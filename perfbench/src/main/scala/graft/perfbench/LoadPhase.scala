package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Direction, EdgeStep, TpchGraph, Tables}
import graft.olap.Algorithms
import graft.ops.{Ann, Corpus, Dedup}
import graft.traverse.{PathTraversals, Traversals}

/** The engine's load phase (`graft.Bench.warmup`), replayed one builder call
  * at a time so each artifact's build can be timed on its own. Calls,
  * parameters and order are those of `Bench.warmup` with no env toggles set
  * and no artifact store, for the artifacts some workload's ops plan
  * against; `Bench.warmup`'s landmark indexes, basket view, ANN index and
  * quality classifier are left out because no workload uses them. The
  * adjacency builders are package-private to `graft`, which is why this
  * code lives in a subpackage of it. */
object LoadPhase {
  final case class Artifact(name: String, build: (SparkSession, String) => Unit)

  private def graph(s: SparkSession, d: String) = TpchGraph.cached(s, d)

  val all: Seq[Artifact] = Seq(
    Artifact("jvm_warm", (s, _) =>
      s.range(1000000L).selectExpr("sum(id)").collect()),
    Artifact("graph", (s, d) => {
      val g = graph(s, d); g.vertices.count(); g.edges.count()
    }),
    Artifact("adj_out", (s, d) =>
      Traversals.adjacencyView(graph(s, d), Direction.OUT)),
    Artifact("mult_out", (s, d) =>
      Traversals.multiplicityView(graph(s, d), EdgeStep(Direction.OUT))),
    Artifact("adj_both", (s, d) =>
      Traversals.adjacencyView(graph(s, d), Direction.BOTH)),
    Artifact("mult_both", (s, d) =>
      Traversals.multiplicityView(graph(s, d), EdgeStep(Direction.BOTH))),
    Artifact("labeled_out", (s, d) =>
      Traversals.labeledAdjacency(graph(s, d), Direction.OUT, Nil)),
    Artifact("labeled_both", (s, d) =>
      Traversals.labeledAdjacency(graph(s, d), Direction.BOTH, Nil)),
    Artifact("cosupplier", (s, d) =>
      graft.queries.OlapQueries.coSupplierEdges(s, d).count()),
    Artifact("pagerank_views", (s, d) =>
      Algorithms.pageRankViews(graph(s, d))),
    Artifact("weighted_edges", (s, d) =>
      PathTraversals.weightedEdgeView(graph(s, d), Direction.BOTH, Nil, "quantity")),
    Artifact("corpus_tokens", (s, d) =>
      Corpus.tokens(Tables.documents(s, d), "doc_id", "text")),
    Artifact("minhash_signatures", (s, d) =>
      Dedup.signatureTable(Tables.documents(s, d), "doc_id", "text",
        ngram = 3, k = 12, bands = 6, rows = 2)),
    Artifact("kmeans_full", (s, d) =>
      Ann.kmeansCentroids(Tables.embeddings(s, d), nCentroids = 8, iters = 2)),
    Artifact("text_codegen", (s, d) =>
      Tables.documents(s, d).limit(200)
        .select(md5(col("text")).as("h"),
          graft.functions.TextFunctions.tokenize(col("text")).as("t"))
        .agg(count(col("h")), sum(size(col("t")))).collect()))

  def names: Seq[String] = all.map(_.name)

  /** The artifacts a workload's ops plan against, in `Bench.warmup` order.
    * A full `Bench.warmup` costs about 45 s in a fresh JVM at sf 0.01, more
    * than one benchmark run may take, so each workload loads its own. */
  def forWorkload(workload: String): Seq[Artifact] = {
    val graphViews = Seq("jvm_warm", "graph", "adj_out", "mult_out", "adj_both",
      "mult_both")
    val keep = workload match {
      case "traverse_mix" =>
        graphViews ++ Seq("labeled_out", "labeled_both", "weighted_edges")
      case "batch_mix" => graphViews ++ Seq("cosupplier", "pagerank_views",
        "corpus_tokens", "minhash_signatures", "kmeans_full", "text_codegen")
    }
    all.filter(a => keep.contains(a.name))
  }
}
