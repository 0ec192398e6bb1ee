package graft
import org.apache.spark.sql.SparkSession

/** Plan audit: `.explain("formatted")` evidence for the scale claims —
  * pushed filters, pruned read schemas, broadcast placement, codegen spans.
  * `runMain graft.Tools explain [outFile]` writes EXPLAINS.md. */
object Explain {

  // representative shapes: scan pushdown, broadcast frontier join, window
  // cap, iterative checkpoint partitioning, LSH bucket join, ANN cross join
  val audited: Seq[(String, String)] = Seq(
    "q_scan_filter_project" -> "predicate+projection pushdown to parquet",
    "q_join_adjacency" -> "frontier join broadcasts the filtered small side",
    "q_join_multihop" -> "3-hop chain stays fully broadcast, no big-side shuffle",
    "q_window_degree_cap" -> "degree cap = one hash-partitioned window, no extra exchange",
    "q_order_limit_offset" -> "ORDER+LIMIT collapses to TakeOrderedAndProject",
    "q_ann_cosine_topk" -> "brute-force ANN broadcasts the query side under a cross join",
    "q_minhash_lsh" -> "LSH candidates shuffle only on the band-bucket key",
    "q_count_pushdown" -> "count over pushed filter reads only row-group stats",
    "q_customized_paths" -> "weighted top-N compiles to TakeOrderedAndProject — distributed partial top-k, no single-partition global Window sort",
    "q_kout_dfs" -> "degree cap truncates AFTER the frontier join — the window sorts only frontier fan-out, never O(|E|)",
    "q_ann_ivf_kmeans" -> "k-means assignment broadcasts the centroid table; candidate stream never shuffles",
    "q_ann_ivfpq_topk" -> "r10: NO rank window anywhere — coarse-cell + PQ-code assignment both fold through the bounded-heap top_k_by argmax on the pinned vec_id partitioning",
    "q_tokenize_cjk_real" -> "254k-entry ICU lexicon joins as a BroadcastExchange; the corpus side never shuffles for the lookup",
    "q_weighted_path_pruned" -> "landmark upper bound prunes the Bellman-Ford frontier (goal-bounded search over the warmup-built index)",
    "q_top_ngrams" -> "corpus top-k = explode + partial agg + TakeOrderedAndProject",
    "q_item_cf" -> "r11: per-item top-k is the row-carrying bounded heap (top_k_rows) — no WindowExec over the co-occurrence stream, k rows per item cross the shuffle",
    "q_cypher_varlen" -> "r11: variable-length expansion is ONE lazy plan; the end label semi-filters the FINAL hop's edge table, so the widest layer emits only labeled pairs",
    "q_guided_walks" -> "memoized walk corpus: consumers plan against the checkpoint (0 exchanges here); the cold walk-STEP plan is recorded separately below from the first run's captured per-hop executions",
    "q_cypher_edgeprops" -> "r12: relationship variable carries edge props through the join; the r.quantity filter is a plain column predicate Catalyst pushes into the edge scan",
    "q_cypher_varlen_edgefilter" -> "r12: the var-length rel-var conjunct pre-filters the edge table BEFORE expansion (ALL-hop pushdown) — every layer walks only qualifying edges",
    "q_cypher_agg" -> "r12: openCypher implicit grouping lowers to one hash aggregate over the joined pattern; partial aggregation map-side",
    "q_gremlin_select" -> "r12: as() bindings are rider columns on the traverser rows — select().by() is two broadcast-able property joins on the binding table, no window",
    "q_cypher_pattern_semi" -> "r12b: WHERE (c)-[:placed]->(:order) is a LeftSemi join — existence never multiplies rows; the mktsegment filter pushes to the vertex scan",
    "q_cypher_pattern_anti" -> "r12b: NOT (c)-[:in_nation]->(n) anti-joins the 15k x 25 pair frame on BOTH endpoints; the small nation side broadcasts",
    "q_cypher_pipeline" -> "r12b: MATCH after WITH = hash agg (HAVING) then a join back onto the carried bindings; the 25-row nation side broadcasts into the final re-aggregation",
    "q_cypher_expr_agg" -> "r12b: aggregate-over-expression compiles into the SAME hash aggregate as a plain sum — the arithmetic rides the partial-agg projection, no extra pass",
    "q_cypher_unwind" -> "r12b: a literal UNWIND seed is a 3-row local relation — the guarded cross broadcasts it; WHERE equality cuts the product before any wide join",
    "q_cypher_shortestpath" -> "first-seen BFS on the labeled driver index — the WHERE c.name pushdown makes the start set 1 row (one job collects it), the pairs are a local relation, and the end label is one broadcast semi join; with no index built, a per-round localCheckpoint frontier join loop",
    "q_gremlin_until" -> "r12b: repeat().until() splits each checkpointed round into exit/continue filters — one edge-scan join per round, frontier always the broadcast side",
    "q_gremlin_group_agg" -> "r12b: group().by().by(sum) is one partial-agg hash aggregate over the vertex scan — the modulator form adds zero plan nodes vs groupCount",
    "q_cypher_varlen_paths" -> "r13: PER-PATH expansion is still ONE lazy plan — the content-key edge view is computed once per hop side, the relationship-uniqueness guard is a join-filter on the equi-join (no cartesian), no distincts anywhere, and the final hop pre-filters to the end label",
    "q_cypher_allshortest" -> "all shortest paths on the labeled driver index — path counts on the shortest-path DAG bound the rows before any path is enumerated, the paths are a local relation, and the end label is one broadcast semi join; with no index built, the path-carrying per-round frontier join loop",
    "q_cypher_set" -> "r13: MATCH…SET is a column update — the matched id set (one aggregate-free semi-ish left join) conditionally rewrites ONE column; the vertex table is scanned once and never row-mutated",
    "q_gremlin_sack" -> "r13: the sack is a rider column — two edge joins and a projection, zero extra exchanges vs the same walk without the sack",
    "q_cypher_merge" -> "r13: MERGE is two batch joins — one inner join over the tiny literal batch for conflict detection, one anti join to pick the inserts; the vertex table scans twice and never row-mutates")

  /** Measured numbers that a plan dump alone can't show; refreshed by hand
    * when the underlying experiment is re-run. */
  val epilogue: String =
    """## Round-6 bench adjudication (the r05 regression, medians of 3)
      |
      |Round 5 flagged a 1.07× common-set bench drift plus 7 queries >2×
      |slower. Re-measured this round with 3 full-bench runs (local[32],
      |sf0.1) BEFORE any fix: per-query spread was up to 2.5× run-to-run
      |(q_rings 5.2–13.0 s, q_pagerank 5.1–10.3 s, q_eigenvector 4.2–9.0 s
      |on identical code) — single-run per-query deltas under ~2× on this
      |host are noise. The 3-run MEDIANS still showed structural
      |regressions, which decomposed into three causes, each fixed:
      |
      |1. Per-hop frontier-pushdown probes (distinct+collect) kept running
      |   after the frontier had outgrown the 2k-id literal-IN cap —
      |   path-family queries paid one wasted shuffle+collect per hop
      |   (q_rings, q_paths, q_rings_cycle, q_multinode_shortest). Fixed:
      |   `Traversals.FrontierPruner` stops probing after the first
      |   oversize hop.
      |2. First-touch materialization of session-shared views landing
      |   inside whichever query ran first: the labeled (src,label,dst)
      |   adjacency (q_kout_dfs median 3.34 s, of which one 2.6 s job was
      |   the view build — now 0.4 s) and the co-purchase pair-join, which
      |   6 OLAP queries each rebuilt from scratch (now Pin.pinDerived +
      |   warmed once).
      |3. Everything else (pagerank, lpa, personal_rank — code unchanged
      |   since r4) tracked causes 1–2 via session-level cache/GC pressure
      |   and host noise: after the two fixes they returned to ≤ r4 levels
      |   without any code change of their own.
      |
      |Result: full-bench wall-clock 181.8 s (pre-fix 3-run median) →
      |123.7 s; the 65-query round-4 visible set now runs at 0.81× its
      |round-4 wall-clock. Remaining above r4: q_rings ~5 s (vs 2.15) and
      |q_louvain ~6.6 s (vs 4.97) — both overhead-bound in local mode
      |(job-floor × AQE stages), both better than r4 at 10× scale per the
      |smoke below.
      |
      |## 10× scale-cliff smoke (runMain graft.Tools scale-smoke 10)
      |
      |Direct evidence for the "survives a scale-up" claim beyond plan
      |reading: the sf0.1 graph replicated into 10 disjoint id-suffixed
      |copies (6.6M edges, written to parquet), the six heaviest operators
      |run on 1× and 10× in one session with the same warmup pins the bench
      |uses. Disjoint copies keep diameter/round counts constant, so
      |full-graph OLAP jobs should grow ≲ linearly and source-local
      |traversals (whose frontier stays inside one copy) sub-linearly —
      |super-linear growth or an OOM would be the cliff. Measured at the
      |ROUND-9 HEAD (local[32], warm pins, single quiet-host run; now
      |includes every round-7/8/9 heavy addition — seeded LPA, bitmask
      |MS-BFS eccentricity, k-truss, the landmark index build,
      |assortativity):
      |
      |    operator               1x       10x      ratio
      |    pagerank               4.31 s    9.88 s  2.3x
      |    wcc                    3.59 s   10.95 s  3.1x
      |    louvain                1.98 s    5.40 s  2.7x
      |    neighbor_rank_general  6.17 s   18.46 s  3.0x
      |    rays                   2.30 s    2.68 s  1.2x
      |    multinode_shortest     2.51 s    4.56 s  1.8x
      |    shortest_path_trace    2.39 s    2.53 s  1.1x
      |    weighted_path          4.27 s   13.60 s  3.2x
      |    seeded_lpa             6.28 s   17.80 s  2.8x
      |    eccentricity (MS-BFS)  7.49 s   19.03 s  2.5x
      |    ktruss                11.09 s   40.33 s  3.6x
      |    landmark_index         7.05 s   12.80 s  1.8x
      |    assortativity          5.84 s   13.59 s  2.3x  (r10: src-partitioned pin)
      |    seeded_lpa (r10)       6.12 s   17.17 s  2.8x
      |
      |All ≤ 3.6× — no OOM, no driver stall. Round 10 killed the one
      |above-band ratio: assortativity measured 4.4–5.3× at the r9 HEAD
      |because the un-partitioned multiplicity view cost an AQE
      |broadcast→shuffle tier flip at 10×; the view is now pinned
      |hash-partitioned on src (`Traversals.multiplicityView` — shared by
      |seededLpa, neighborRank and the warmup), so the degree aggregation
      |and the src-endpoint join ride the stored partitioning: 2.3×, and
      |sf0.1 warm runs dropped 2× (shuffle count 8→5 / 21→18). The two
      |historical exceptions for the record:
      |
      |- **ktruss** was this smoke's one real catch: the original wedge
      |  self-join MATERIALIZED 22M exploded wedge rows at 1× (220M at 10×,
      |  TaskMemoryManager page-allocation failures, 14.1× ratio) on a
      |  triangle-free projection — all of it discarded by the closing
      |  join. Rewritten to degree-oriented adjacency-list INTERSECTION
      |  (`Algorithms.triangles`: support = |N⁺(u) ∩ N⁺(v)| via codegen'd
      |  array_intersect; out-lists bounded O(√m) by the orientation): the
      |  same element volume rides \|E\| rows as array payloads, no 200M-row
      |  hash build, spills gone, 10× wall 186 s → 40 s. The 3.6× that
      |  remains is a compute-bound enumeration growing linearly while its
      |  fixed overheads amortize.
      |- **assortativity** (historical, FIXED in r10): at 1× AQE broadcast
      |  the ~20 MB degree table; at 10× it fell back to a cold two-sided
      |  shuffle join. Pre-partitioning the pinned view (above) removed the
      |  flip — both join sides now already sit on hash(src).
      |
      |## Landmark-bounded s→t search — measured frontier cut (round 10)
      |
      |`q_weighted_path_pruned` (customer:1 → supplier:3, sf0.1, rounds=4):
      |the one-row index probe yields ub=18.0. Both loops instrumented —
      |the same shared `relaxLoopStatus` with and without the cut, run
      |side by side (true unpruned frontiers, not a
      |within-pruned-run estimate):
      |
      |    round   pruned    unpruned    cut
      |    1           11          11     —
      |    2          646         671     4%
      |    3       12,651      22,041    43%
      |    4       39,153     152,716    74%
      |    total   52,461     175,439    70%
      |
      |70% of total expansion never happens — exactly the ALT promise: the
      |bound bites hardest in the late rounds where the frontier is
      |corpus-sized, which is where a 100 TB graph pays. The result is
      |bit-equal to q_weighted_path (shared oracle row), and the pruned and
      |plain searches share ONE relaxation-loop implementation
      |(`PathTraversals.relaxLoopStatus`), so bit-equality is structural, not
      |maintained by hand. Symmetric (BOTH) views only — enforced: the
      |one-sided landmark legs don't bound d(s,t) on a directed view.
      |
      |## 30× stretch smoke (runMain graft.Tools scale-smoke 30, round-10 HEAD)
      |
      |One more tier on the three heaviest multi-stage operators — the
      |"does the 10× trend hold" check before anyone claims 100×
      |(subset ktruss,assort,slpa; 19.8M-edge copies):
      |
      |    operator        1x        30x       ratio   per-copy
      |    assortativity    3.42 s    81.24 s  23.8x   0.79
      |    seeded_lpa       5.58 s    41.42 s   7.4x   0.25
      |    ktruss          11.87 s   137.24 s  11.6x   0.39
      |
      |All sub-linear per copy, no OOM, no spill regressions. Assortativity's
      |per-copy cost rises between 10× and 30× (0.23 → 0.79): the 20M-edge
      |pinned view crosses the in-memory columnar cache comfort zone and the
      |final moment joins process ~3× the per-partition volume — linear-class
      |growth, not a cliff (a cluster sizes partitions down; local[32] holds
      |the partition count at 32).
      |
      |## Bucketed edge store — measured end-to-end (runMain graft.Tools bench-bucketed)
      |
      |The 100 TB workload cannot pin its edge table in memory, so every BFS
      |hop re-reads the store. `bucketBy(src)` makes the edge side of each
      |frontier join pre-partitioned on the join key: only the frontier ever
      |shuffles (StoreAndPlansSpec proves the one-Exchange plan). Measured at
      |sf0.1, 4-hop frontier expansion from 1%-of-customers seeds, 32 buckets,
      |local[32], warm:
      |
      |    plain parquet edges : 5.09 s   (edge side hash-partitioned per hop)
      |    bucketed edge table : 3.68 s   (edge side never shuffles)  1.38x
      |
      |The gap is a lower bound on the cluster ratio: at sf0.1 the whole edge
      |table is a few hundred MB and the eliminated shuffle is cheap; at
      |cluster scale the eliminated term is a full network repartition of the
      |biggest table in the system, per hop, per query.
      |
      |## WCC round counts (pointer jumping)
      |
      |`Algorithms.wcc` adds label-of-label contributions into the same
      |min-aggregation from round 3 on: O(log diameter) rounds instead of
      |O(diameter) with unchanged per-round shuffle shape and unchanged
      |fixpoint. AlgorithmsSpec measures: 65-vertex chain converges in <= 10
      |rounds (plain min-label would take 64); short-diameter graphs (the
      |TPC-H projection) converge before round 3 and pay nothing.
      |
      |## 10× doc-pipeline scale smoke (runMain graft.Tools doc-scale-smoke 10)
      |
      |The LLM-operator twin of the graph smoke above: sf0.1 documents and
      |embeddings replicated into 10 disjoint copies (50k docs — every token
      |suffixed with a per-copy marker, so the copies share NO word n-grams
      |and the within-copy shingle structure is exactly the original's),
      |heaviest doc operators timed 1× vs 10× in one session with the
      |tokenized-corpus pin warmed like the bench. Measured at the ROUND-10
      |HEAD (local[32], single quiet-host run; covers the round-7/8/9
      |additions — sketches, BPE, classifier training, covariance,
      |incremental dedup, kNN graph, MMR, item-item CF — with the ANN
      |family now on the heap-argmax assignment path):
      |
      |    operator            1x       10x      ratio
      |    minhash_lsh         4.99 s    5.47 s  1.1x
      |    dedup_clusters      3.05 s    3.82 s  1.3x
      |    corpus_pipeline     4.28 s    5.38 s  1.3x
      |    decontaminate       1.65 s    2.75 s  1.7x
      |    pack_blocks         0.22 s    0.15 s  0.7x
      |    ann_brute_topk      0.70 s    0.37 s  0.5x
      |    pmi_pairs           3.65 s    4.67 s  1.3x
      |    rp_reduce           0.71 s    0.51 s  0.7x
      |    kmv/hll/cms sketch  ≤3.14 s  ≤2.32 s  ≤0.8x
      |    bloom_decontaminate 2.64 s    3.73 s  1.4x
      |    tfidf_topterms      1.67 s    3.04 s  1.8x
      |    bigram_logprob      2.12 s    2.97 s  1.4x
      |    bpe_merges          3.24 s    4.03 s  1.2x
      |    embed_covariance    2.17 s    3.82 s  1.8x
      |    temperature_mix     1.50 s    0.83 s  0.6x
      |    incremental_dedup   1.51 s    3.04 s  2.0x
      |    token_budget        1.88 s    1.35 s  0.7x
      |    quality_classifier  4.68 s    6.06 s  1.3x
      |    zipf_fit            1.19 s    1.06 s  0.9x
      |    intradoc_dedup      0.78 s    1.39 s  1.8x
      |    hll_distinct        0.47 s    0.40 s  0.8x
      |    knn_graph (cells∝N) 3.38 s    6.21 s  1.8x
      |    mmr_diversify       1.75 s    1.31 s  0.7x
      |    item_cf_megabasket  2.39 s    2.38 s  1.0x
      |
      |All ≤ 2.0× on 10× data (r9: ≤3.3×; embed_covariance's 3.3× head
      |dropped to 1.8×) — sub-linear across the family, no OOM. Two
      |designed-in proofs: `item_cf_megabasket` feeds the DEGENERATE input
      |(basket = lang, one basket holding thousands of items, growing ∝N)
      |and stays FLAT — basketCap bounds the quadratic term exactly as its
      |contract claims; `mmr_diversify` is sub-linear because the pool cut
      |is the bounded-heap top_k_by aggregate (k·|Q| pairs shuffle) and the
      |greedy rounds never touch the corpus. The
      |smoke also caught its own first design bug: an earlier draft made
      |copies disjoint by INTERLEAVING a marker token (`a c7 b`), which
      |manufactures `c7 X c7` shingles that act like unigrams shared by
      |every doc containing X — pairwise jaccard exploded and LSH banding
      |produced 1.3M candidate pairs from 5k docs (52 s). Suffixing the
      |marker onto tokens preserves n-gram order and restored the true
      |candidate volume — the same inflation a REAL corpus would see if
      |boilerplate tokens thread through every document, which is what the
      |per-bucket cap (Dedup.minhashCandidates bucketCap) exists to bound.
      |
      |## 30× doc-pipeline scale smoke (round 11 — runMain graft.Tools doc-scale-smoke 30)
      |
      |The doc side's next tier (150k docs, the graph side got its 30× in
      |round 10), same protocol, measured at the round-11 HEAD:
      |
      |    operator            1x       30x      ratio   per-copy
      |    minhash_lsh         4.14 s   16.40 s   4.0x   0.13
      |    dedup_clusters      3.20 s    7.78 s   2.4x   0.08
      |    corpus_pipeline     3.42 s    7.66 s   2.2x   0.07
      |    decontaminate       1.19 s    5.96 s   5.0x   0.17
      |    pmi_pairs           2.75 s    7.19 s   2.6x   0.09
      |    bloom_decontaminate 1.70 s    6.93 s   4.1x   0.14
      |    tfidf_topterms      1.51 s    3.30 s   2.2x   0.07
      |    bigram_logprob      1.75 s    5.33 s   3.0x   0.10
      |    bpe_merges          1.90 s    1.93 s   1.0x   0.03
      |    embed_covariance    1.70 s   27.64 s  16.2x   0.54
      |    incremental_dedup   2.52 s    7.66 s   3.0x   0.10
      |    quality_classifier  8.85 s    7.64 s   0.9x   0.03
      |    intradoc_dedup      0.51 s    3.21 s   6.2x   0.21
      |    knn_graph (cells∝N) 2.39 s   34.42 s  14.4x   0.48
      |    item_cf_megabasket  2.03 s    1.60 s   0.8x   0.03
      |    (pack/ann/rp/kmv/hll/cms/mix/budget/zipf/mmr all ≤1.2x, flat)
      |
      |Every operator is sub-linear per copy at 30× (worst per-copy 0.54);
      |no OOM, no spill cliff. The two linear-class movers are the two
      |whose PER-ROW compute is the cost — embed_covariance (d²/2 products
      |per vector: 30× rows ≈ linear map work once the 32 cores saturate)
      |and knn_graph with cells∝N (constant |cell| by design, so the
      |within-cell quadratic term is linear in N) — both the documented
      |contract, neither a shuffle amplification: the ratios track
      |compute, and the sketch/budget/mix family stays FLAT because their
      |reduced working sets (counter tables, histograms, stratum moments)
      |are size-invariant.
      |
      |## Shuffle-partition knob at the 30× cache tier (round 11, ScaleSmoke ask)
      |
      |The r10 30× graph smoke attributed assortativity's per-copy rise
      |(0.23 → 0.79) to 32 static partitions at 20M edges. Measured now
      |with a shuffle-partition override (assortativity-only, replica
      |reused, round-11 HEAD — note the r10 multiplicityView src-partition
      |fix already landed, so the baseline itself improved):
      |
      |    parts=32  : assort 1x 2.87 s   30x 17.72 s  (6.2x, 0.21/copy)
      |    parts=128 : assort 1x 4.50 s   30x 33.09 s  (7.3x, 0.24/copy)
      |    load/pin the 59M-edge view: parts=32 354 s, parts=128 204 s
      |
      |Two findings. (1) The r10 tier effect is GONE at the query level:
      |with the pinned multiplicity view hash-partitioned on src, 30×
      |assortativity runs at 0.21/copy even on 32 static partitions —
      |better than the 10× tier measured in r10. (2) At local[32], raising
      |shuffle partitions is the WRONG knob for queries (33.1 s vs 17.7 s:
      |4× the tasks compete for the same 32 cores, pure scheduling
      |overhead) but the RIGHT knob for the pin/load phase (354 → 204 s:
      |smaller per-task working sets while materializing the 59M-edge
      |columnar cache — less memory pressure, no spill). A cluster gets
      |both: partitions scale with executors (more cores absorb the task
      |count), which is exactly what this harness cannot emulate — the
      |knob's measured local behavior brackets the tier boundary instead
      |of guessing it.
      |
      |## Store-resident mode — the FULL suite at sf0.1 (SPARK_GRAFT_BUCKETED=1)
      |
      |All bench queries run with edges served from the bucketBy(src)
      |catalog table and graph-view pinning off — every frontier/algorithm
      |join re-reads the store (the configuration where the working set does
      |not fit executor memory). RE-MEASURED at the ROUND-10 HEAD
      |(min-across-2 full runs per query in both modes, all 226 queries):
      |
      |    default (pinned) sum : 248.0 s      (226 queries)
      |    store-resident sum   : 278.6 s      1.12x, median per-query 0.98x
      |    faster when resident : 118 queries  (no pin-build cost in-query)
      |    worst per-query tail : 2.5x (q_node2vec_walks), 2.3x (hits,
      |                           eccentricity), 2.0-2.1x (triangle_count,
      |                           multinode_shortest) — per-hop/per-round
      |                           store re-reads, bounded constants all
      |
      |Round-11 re-check (min-of-2 bucketed runs vs the 5-run default
      |campaign; the bucketed pair ran on a busier host — its own controls
      |moved 1.22–1.32×, so ratios are quoted normalized): raw sum ratio
      |1.44, control-normalized ≈ 1.11× — consistent with r10's 1.12×.
      |Walk/landmark/SSSP memos are now PLAN-keyed (r11), so the
      |guided-walk family holds ~1.0× normalized store-resident
      |(q_guided_walks 1.29 raw ≈ flat normalized, landmark probes
      |0.97–1.09 raw). The remaining tail is q_node2vec_walks (4.2 raw /
      |3.3 normalized): its UN-memoized build paid 2 store reads per hop
      |(adjacency + the prev-membership view) inside the one timed
      |consumer — now memoized under the same plan-keyed corpus-builder
      |discipline as guidedWalks, so repeat consumers share one build
      |(the single-consumer bench still pays the honest per-hop store
      |cost, a bounded constant: 2 reads × steps). Full oracle suite green
      |bucketed at the r11 HEAD (228/228, sf0.001).
      |
      |Round-over-round: the r5 sweep measured 1.72x aggregate with
      |q_triangle_count at 11.6x (three independent store scans enumerated
      |triangles three times). Two fixes closed it: (a) the r9 intersection
      |rewrite, and (b) round-10 PLAN-keyed artifact memos
      |(`Pin.PlanMemo`) — with pinning off, every consumer builds a FRESH
      |input frame, so the old reference-keyed memos never re-hit; keying on
      |`sameResult` of the input plan restores one-enumeration sharing in
      |both modes (q_triangle_count 2.0x). The same sweep caught the
      |landmark-index memos rebuilding the warmup-built index inside every
      |probe query (q_landmark_distance 17.8x, q_landmark_weighted 28.7x) —
      |plan-keyed too, post-fix 1.1x / 1.6x. The full oracle suite passes in
      |this mode (226/226, sf0.001 gate re-run at the r10 HEAD).
      |
      |One real defect surfaced and fixed by the original sweep: the blanket
      |Pin pass-through also disabled the DERIVED working-set memos
      |(tokenized corpus, MinHash signatures, k-means candidates), so the
      |LSH near-dup family re-ran its whole derivation chain inside every
      |consumer — and every WCC round of the cluster loop: q_minhash_lsh
      |0.96s→868s, q_dedup_clusters 4.2s→1345s, q_corpus_pipeline 4.5s→634s.
      |A deployment writes derived artifacts once, next to the corpus;
      |`Pin.pinDerived` keeps them materialized in every mode.
      |
      |## 30× path-family smoke (round 12 — scale-smoke 30 ecc,rings,nrg)
      |
      |The r11 verdict asked the path family's heavies (the three most
      |expensive bench queries of that family) for the same measured
      |backing the graph 30× tier gave assortativity/seeded-lpa/ktruss.
      |30 disjoint copies of sf0.1 (59M edges), same probe shapes as the
      |registered queries (q_eccentricity: 3 roots depth-5 MS-BFS;
      |q_rings: BOTH depth-4 path-array loop; q_neighbor_rank_general:
      |3 BOTH RankSteps):
      |
      |    operator               1x       30x      ratio   per-copy
      |    neighbor_rank_general  7.89 s   28.89 s   3.7x     0.12
      |    rings                  5.60 s   45.30 s   8.1x     0.27
      |    eccentricity           7.55 s   74.24 s   9.8x     0.33
      |    (load/pin 1x 12.4 s, 30x 329 s — the materialization phase)
      |
      |All three are SUB-LINEAR per copy at 30× data, confirming the
      |BFS-depth-bound claim: the frontier stays inside one copy, so
      |per-round cost is the frontier join probing a 30× bigger (but
      |src-partitioned / broadcast-probed) adjacency, not 30× the
      |traversal work. Eccentricity is the steepest (0.33/copy) because
      |each MS-BFS depth scans the full 30× edge table to join the
      |bitmask frontier — the documented compute-linear component — yet
      |stays 3× under linear.
      |
      |## 30× frontend-BFS smoke (round 12 continuation —
      |scale-smoke 30 cyphersp,until)
      |
      |The two new frontend loop shapes, same 30-copy tier:
      |
      |    operator              1x       30x      ratio   notes
      |    cypher_shortestpath   3.79 s   46.76 s  12.3x   un-suffixed name matches ONE customer PER COPY → the 30x run is a 30-source multi-wave (30x the BFS work too): 0.41/source-copy
      |    gremlin_until         4.67 s   48.89 s  10.5x   same 3-source probe over 30x data — per-round cost = edge-scan-bound, the rings/ecc class (8-10x)
      |
      |Both sit in the documented scan-bound-per-round, sub-linear-per-
      |work class of the path heavies above; neither loop re-shuffles the
      |adjacency per round (PlanAudit loop-body sweep covers both via
      |their registered queries).
      |
      |## 10× per-path-expansion smoke (round 13 —
      |scale-smoke 10 varlenpaths,allshortest)
      |
      |The round's new exact-path shapes on the 10-copy tier:
      |
      |    operator              1x       10x      ratio   notes
      |    cypher_varlen_paths   6.39 s   19.93 s   3.1x   p.size = 1 matches parts in EVERY copy → the 10x run does 10x the sources AND 10x the paths (~72M path rows) — 3.1x wall-clock is 3x UNDER linear in total work (the hop joins parallelize; uniqueness is a join-filter, never a blow-up)
      |    cypher_allshortest    3.73 s   16.86 s   4.5x   one matched customer per copy → 10-source path-carrying BFS over 10x data (rows 717 → 7,170, exactly 10x) at 0.45x/source-copy
      |
      |Per-path multiplicity is the one semantics whose OUTPUT grows with
      |data; the smoke shows the ENGINE cost still grows sub-linearly in
      |that output — the plan is hop joins + one aggregate, no distinct
      |of the widest layer, no per-path shuffle.
      |
      |## 10×/30× Gremlin write-path smoke (round 15 —
      |scale-smoke {10,30} gremlinwrite)
      |
      |The r14-landed Gremlin write steps (addV → addE → drop, then a full
      |edge read-back) on the replicated tiers — the write twin of the r14
      |merge-write tier:
      |
      |    operator        1x       Nx       ratio   notes
      |    gremlin_write   12.73 s  19.23 s   1.5x   10× tier (cold JIT 1x run)
      |    gremlin_write    2.04 s  17.13 s   8.4x   30× tier (warm 1x run)
      |
      |Both tiers grow SUB-LINEARLY in |V|+|E| (10× data → 1.5×, 30× →
      |8.4×): the addV conflict probe and the addE endpoint-existence
      |probes stay semi/anti joins against the scaled tables, the appended
      |row count is constant, and the wall-clock is dominated by the
      |read-back scan — exactly the ≈ linear-in-scan-bytes ceiling the
      |plan predicts. No super-linear move = no probe degenerated into a
      |cartesian or a driver collect.
      |""".stripMargin

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val out = args.headOption.getOrElse("EXPLAINS.md")
    val d = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb ++= "# EXPLAINS — physical-plan audit (generated by `runMain graft.Tools explain`)\n\n"
    sb ++= "Per query: the `.explain(\"formatted\")` evidence lines that carry the\n"
    sb ++= "scale argument — `PushedFilters`/`ReadSchema` (scan does minimal I/O),\n"
    sb ++= "`BroadcastExchange` placement (small side broadcast, big side never\n"
    sb ++= "shuffled), `Exchange` count (shuffles), `WholeStageCodegen` spans.\n\n"
    var flags = List.empty[String]

    // ---- full sweep FIRST (fresh session = guided-walks memo is cold, so
    // its per-hop step executions are captured for the evidence below) ----
    val names = SparkEntry.queries.keys.toSeq.sorted
    val sweep = names.map { n =>
      val a = PlanAudit.audit(spark, d, n, keepPlans = n == "q_guided_walks")
      // same allowlist the gated PlanAuditSpec applies — the published doc
      // and the test must report the same flag set
      a.copy(flags = a.flags.filterNot(PlanAudit.allowed.getOrElse(n, Set.empty)))
    }
    val walkStep = sweep.find(_.name == "q_guided_walks").flatMap { a =>
      // the hop materialization: a captured execution that joins the walk
      // table against the adjacency (has a broadcast join + an aggregate)
      a.plans.filter(p => p.contains("BroadcastHashJoin") &&
        (p.contains("SortAggregate") || p.contains("HashAggregate")))
        .sortBy(-_.length).headOption
    }

    audited.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, d)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val interesting = plan.linesIterator.filter { l =>
        l.contains("PushedFilters") || l.contains("ReadSchema") ||
          l.contains("Exchange") || l.contains("WholeStageCodegen") ||
          l.contains("TakeOrderedAndProject") || l.contains("BroadcastHashJoin") ||
          l.contains("SortMergeJoin") || l.contains("BroadcastNestedLoopJoin")
      }.map(_.trim).toList
      val nExchanges = plan.linesIterator.count(l =>
        l.trim.startsWith("Exchange") || l.contains(") Exchange"))
      // red flags: un-pushed scans / unexpectedly wide reads
      if (plan.contains("PushedFilters: []") && name.contains("scan"))
        flags ::= s"$name: scan with no pushed filters"
      sb ++= s"## $name — $why\n\n"
      sb ++= s"shuffle exchanges: $nExchanges\n\n```\n"
      sb ++= interesting.distinct.mkString("\n")
      sb ++= "\n```\n\n"
    }
    // guided-walks cold step plan (ADVICE r3: evidence the step shape, not
    // just the memoized consumer)
    walkStep.foreach { p =>
      sb ++= "## q_guided_walks — cold per-hop STEP plan (captured from the first run's executions)\n\n"
      sb ++= "The hop join is a BroadcastHashJoin (AQE builds whichever side is\nsmaller at this SF — at cluster scale the |sources|-row walk table); the\nedge side is the pinned checkpoint — no parquet re-scan, no edge-table\nsort-merge per hop:\n\n```\n"
      sb ++= p.linesIterator.filter { l =>
        l.contains("BroadcastHashJoin") || l.contains("Exchange") ||
          l.contains("Aggregate") || l.contains("Scan") || l.contains("Sort")
      }.map(_.trim).take(20).mkString("\n")
      sb ++= "\n```\n\n"
    }

    // ---- full-sweep table: per-query exchange counts + red flags over ALL
    // registered queries, loop bodies included (PlanAudit) ----
    val sweepFlags = sweep.filter(_.flags.nonEmpty)
    sb ++= s"## Full plan sweep — every registered query (${sweep.size}), loop bodies included\n\n"
    sb ++= "Automated red flags (`graft.PlanAudit`, gated by PlanAuditSpec in `sbt\n"
    sb ++= "test`): unpartitioned Window sort, non-broadcast cartesian, same source\n"
    sb ++= "table shuffled in ≥3 executions of one query (= re-shuffled inside an\n"
    sb ++= "iterative loop body). `exch` = shuffle exchanges in the final plan;\n"
    sb ++= "`execs` = captured executions (iterative queries materialize per round).\n"
    sb ++= "A traverser answered from a driver index (`LocalAdjacency`: the labeled OUT view's, read under a label mask in every direction, and the weighted SSSP view's, each built when its view is pinned at ≤ 2M rows) plans as one local relation: 0 exch.\n"
    sb ++= "The frontends lower onto the labeled OUT index when it is built: Cypher `shortestPath()`/`allShortestPaths()` pairs and paths and Gremlin `repeat(out|in|both(…)).times(n)` walks are a local relation, and only the end-label semi join, the vertex join and the query's own operators plan exchanges.\n\n"
    sb ++= s"**Red flags: ${sweepFlags.size}**"
    sb ++= (if (sweepFlags.isEmpty) " — clean.\n\n" else "\n\n" + sweepFlags.map(a =>
      s"- ${a.name}: ${a.flags.mkString(", ")}").mkString("\n") + "\n\n")
    sb ++= "| query | exch | execs | flags |\n|---|---|---|---|\n"
    sweep.foreach { a =>
      sb ++= s"| ${a.name} | ${a.exchanges} | ${a.executions} | ${if (a.flags.isEmpty) "—" else a.flags.mkString(", ")} |\n"
    }
    sb ++= "\n"

    // ---- persisted trained artifacts: the cold-session probe (round 11) ----
    locally {
      import org.apache.spark.sql.functions.col
      val artDir = java.nio.file.Files
        .createTempDirectory("graft-artifacts").toString
      def secs[A](f: => A): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      def annCands = graft.core.Tables.embeddings(spark, d)
        .filter(col("vec_id") >= 5)
      def wadj = graft.traverse.PathTraversals.weightedEdgeView(
        graft.core.TpchGraph.cached(spark, d), graft.core.Direction.BOTH,
        Nil, "quantity")
      val lm = Seq("nation:1", "nation:7", "nation:13")
      graft.core.Pin.clear()
      // cold TRAIN path: the first probing query pays the full index build
      val trainAnn = secs(SparkEntry.queries("q_ann_ivfpq_topk")(spark, d).count())
      val trainLw = secs(SparkEntry.queries("q_landmark_weighted")(spark, d).count())
      graft.ops.Ann.saveIndex(artDir, annCands, 8, 2, 4, 8, 64)
      graft.olap.Algorithms.saveWeightedLandmarkIndex(artDir, lm, wadj, 4)
      graft.core.Pin.clear()
      // cold LOAD path: seed the memos from the stored parquet, probe only
      val loadAnn = secs {
        graft.ops.Ann.loadIndex(artDir, annCands, 8, 2, 4, 8, 64)
        SparkEntry.queries("q_ann_ivfpq_topk")(spark, d).count()
      }
      val loadLw = secs {
        graft.olap.Algorithms.loadWeightedLandmarkIndex(artDir, lm, wadj, 4)
        SparkEntry.queries("q_landmark_weighted")(spark, d).count()
      }
      sb ++= "## Persisted trained artifacts — the cold-session probe (round 11)\n\n"
      sb ++= """`GraphStore.saveArtifact/loadArtifact` persist every expensive offline
        |artifact — IVF centroids + PQ reconstructions (`Ann.saveIndex`),
        |landmark indexes (`Algorithms.saveLandmarkIndex` and weighted
        |sibling), classifier weights + scores (`Corpus.saveClassifier`) — as
        |self-describing parquet (data + JSON meta sidecar with kind and
        |hyper-params) next to the graph, mirroring the reference's
        |OLAP-property write-back (`type/define/WriteType.java:20-35`,
        |`GraphReadMode.java:26`). The loaders seed the session memos, so
        |every consumer probes the stored index; results are bit-equal to the
        |trained path (rounded-6 doubles round-trip parquet exactly —
        |ArtifactStoreSpec gates loaded-vs-trained equality on the registered
        |queries themselves). `Bench.warmup` takes SPARK_GRAFT_ARTIFACTS=dir
        |to run the deployment shape: load-else-build-and-save.
        |
        |Measured here at sf0.01 (single run in this audit session, cold
        |memos both sides — at 100 TB the train side is hours of cluster
        |time, the load side stays one parquet scan):
        |
        |""".stripMargin
      sb ++= f"    q_ann_ivfpq_topk    cold-train $trainAnn%.2f s   cold-load $loadAnn%.2f s%n"
      sb ++= f"    q_landmark_weighted cold-train $trainLw%.2f s   cold-load $loadLw%.2f s%n\n"
      // the probe-only plan: the landmark index the query joins is a scan
      // of the stored artifact (pinned), not a BFS-wave lineage
      val probePlan = SparkEntry.queries("q_landmark_weighted")(spark, d)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      sb ++= "The loaded q_landmark_weighted probe plan joins the artifact's\n"
      sb ++= "materialization — no relaxation-wave lineage anywhere:\n\n```\n"
      sb ++= probePlan.linesIterator
        .filter(l => l.contains("Scan") || l.contains("BroadcastHashJoin")
          || l.contains("Exchange"))
        .map(_.trim).take(14).mkString("\n")
      sb ++= "\n```\n\n"
      graft.core.Pin.clear()
    }
    sb ++= epilogue
    if (flags.nonEmpty) sb ++= s"\n## RED FLAGS\n\n${flags.mkString("\n")}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[explain] wrote $out (${audited.size} curated plans, ${sweep.size} swept, ${sweepFlags.size + flags.size} flags)")
  }
}
