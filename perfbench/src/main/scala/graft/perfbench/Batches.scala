package graft.perfbench

import graft.queries._

/** The registry queries `batch_mix` runs, once each per run, in seeded
  * order: a fixed subset of the OLAP registries and of the doc, relational
  * and event registries. The whole registries take 53 s (OLAP) and 74 s
  * (corpus) per run at sf 0.01, more than the benchmark's run budget
  * allows. */
object Batches {
  /** Loop kernels: those ROADMAP's superstep direction ports, except the
    * SSSP relaxation loop (traverse_mix's weighted_sssp runs it), and
    * louvain. */
  val olap: Seq[String] = Seq("q_pagerank", "q_wcc", "q_kcore", "q_lpa", "q_hits",
    "q_eccentricity", "q_louvain", "q_eigenvector_centrality")

  /** One to three queries from each operator family: scan, codegen and
    * single-shuffle work with no loop and no traversal. The family names
    * are the `ops.<family>_s` metrics. BPE training runs inside the timed
    * region. */
  val families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("q_minhash_lsh", "q_simhash"),
    "ann" -> Seq("q_ann_cosine_topk", "q_knn_graph"),
    "bpe" -> Seq("q_bpe_merges", "q_bpe_encode"),
    "search" -> Seq("q_bm25_topk"),
    "sketch" -> Seq("q_hll_distinct"),
    "corpus" -> Seq("q_tokenize_stop", "q_lang_id"),
    "relational" -> Seq("q_scan_filter_project", "q_join_multihop", "q_event_sessionize"))

  /** Query name -> family, for every non-OLAP batch query. */
  def familyOf: Map[String, String] =
    families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  def queries: Seq[String] = {
    val names = olap ++ families.flatMap(_._2)
    val known = (OlapQueries.defs ++ OlapQueries2.defs ++ DocQueries.defs ++
      DocQueries2.defs ++ DocQueries3.defs ++ RelationalQueries.defs ++
      EventQueries.defs).map(_.name).toSet
    names.foreach(n => require(known(n), s"$n is not a registered query"))
    names
  }
}
