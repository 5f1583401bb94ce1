package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is one operator from SURVEY.md §2 (reference
  * parity) or §7.4 (extension surface: relational breadth, event-time
  * analytics, and the LLM-data-pipeline suite — dedup, similarity search,
  * text analysis, multimodal). Every SQL-expressible entry has a DuckDB
  * twin in `oracleSql` with IDENTICAL column names and types; the driver
  * hash-compares the two result sets at sf0.01.
  *
  * Operators are sort-free unless ordering is semantic (top-k). The
  * deterministic row order the verification hash wants is applied by
  * [[graft.Verify]] from [[verifyOrder]] — never inside the operator, so
  * benchmarked plans are the ones you'd run at scale.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Citations.top30(Citations.counts(
      Citations.edges(spark, "/root/testdata/sf0.001")))

  type Q = (SparkSession, String) => DataFrame

  // ---- reference parity: citation analysis (SURVEY.md §2) ----------------
  // (The check.py `collect_list`-then-size twin — SURVEY.md O15 — lives in
  // CitationsSpec as a differential assertion, NOT here: materializing every
  // citer of a hot paper in one aggregation buffer is a scale bomb.)
  private val citationQueries: Map[String, Q] = Map(
    "citation_counts" -> ((s, d) => Citations.counts(Citations.edges(s, d))),
    "citation_counts_salted" -> ((s, d) =>
      Citations.countsSalted(Citations.edges(s, d))),
    "citation_top30" -> ((s, d) =>
      Citations.top30(Citations.counts(Citations.edges(s, d)))),
    "citation_degree_dist" -> ((s, d) =>
      Citations.degreeDistribution(Citations.edges(s, d))),
    "cocitation_topk" -> ((s, d) =>
      Citations.coCitationTopk(Citations.edges(s, d))),
    "citation_reach" -> ((s, d) => Citations.citationReach(s, d)),
    "citation_triangles" -> ((s, d) =>
      Citations.citationTriangles(Citations.edges(s, d))),
    "citation_local_clustering" -> ((s, d) =>
      Citations.citationLocalClustering(Citations.edges(s, d))),
    "citation_link_predict" -> ((s, d) =>
      Citations.linkPredictRa(Citations.edges(s, d))),
    "citation_jaccard" -> ((s, d) =>
      Citations.linkPredictJaccard(Citations.edges(s, d))),
    "citation_assortativity" -> ((s, d) =>
      Citations.citationAssortativity(Citations.edges(s, d))),
    // 8 peel rounds: convergence inside the cap asserted in
    // AnalyticsExtraSpec by running one extra round
    "citation_kcore" -> ((s, d) => Citations.kCore(Citations.edges(s, d))),
    // 6 rounds, the pagerank convention; L2 norms asserted =1 in
    // AnalyticsExtraSpec
    "citation_hits" -> ((s, d) => Citations.hits(Citations.edges(s, d))),
    // 6 rounds: the ranking ordering stabilizes well before the values
    // fully converge; invariants spec-tested in AnalyticsExtraSpec
    "citation_pagerank" -> ((s, d) =>
      Citations.pageRank(Citations.edges(s, d), iterations = 6)),
    // 10 propagation rounds: fixpoint inside the cap asserted in
    // AnalyticsExtraSpec by running one extra round
    "citation_components" -> ((s, d) =>
      Citations.components(Citations.edges(s, d))),
    // teleport concentrated on the 5 most-cited papers ("related papers"
    // proximity); seed-mass conservation spec-asserted
    "citation_ppr" -> ((s, d) =>
      Citations.personalizedPageRank(Citations.edges(s, d))),
    // synchronous LPA is DEFINED as exactly 4 rounds (no fixpoint claim —
    // see the Scaladoc); both engines unroll the same count
    "citation_lpa" -> ((s, d) => Citations.lpa(Citations.edges(s, d))),
    // deterministic Luby MIS: convergence-or-throw at 12 rounds
    // (measured fixpoints: 3/3/4 at the three sfs); independence +
    // maximality spec-asserted in AnalyticsExtraSpec
    "citation_mis" -> ((s, d) => Citations.mis(Citations.edges(s, d))),
    // lpa's exchange with the exact-integer modularity-gain score in
    // place of the raw neighbor count (LPAm); defined-rounds, like lpa.
    // Both consumers read the per-dataset label cache (the scc model-
    // artifact discipline) so the 4-round sweep is paid once per suite
    "citation_louvain" -> ((s, d) => Citations.louvainLabelsCached(s, d)),
    "citation_louvain_stats" -> ((s, d) =>
      Citations.louvainStatsFrom(Citations.edges(s, d),
        Citations.louvainLabelsCached(s, d))),
    // multi-level: coarsen the cached level-1 partition to a weighted
    // supergraph, re-sweep, compose (Blondel et al.'s phase 2)
    "citation_louvain_ml" -> ((s, d) =>
      Citations.louvainMlFrom(Citations.edges(s, d),
        Citations.louvainLabelsCached(s, d))),
    // DeepWalk corpus generation with deterministic engine-portable
    // stepping — the graph → token-sequence bridge
    "citation_random_walks" -> ((s, d) =>
      Citations.randomWalks(Citations.edges(s, d))),
    // second-order p/q-biased walk corpus (node2vec) — exact-integer
    // bias weights, every hop decision deterministic and oracled
    "citation_node2vec" -> ((s, d) =>
      Citations.node2vecWalks(Citations.edges(s, d))),
    // the oracle is the FULL recompute: the gate proves the IVM identity
    "citation_counts_ivm" -> ((s, d) =>
      Citations.countsIvm(Citations.edges(s, d))),
    "citation_bfs_paths" -> ((s, d) => Citations.bfsPaths(Citations.edges(s, d))),
    // the Brandes backward pass over the same DAG — single-source
    // dependency profile; sampled betweenness = S of these summed
    "citation_betweenness" -> ((s, d) =>
      Citations.betweenness(Citations.edges(s, d))),
    // landmark harmonic closeness: one multi-source wave, all-integer
    // histogram, float math confined to the final ≤8-row projection
    "citation_closeness" -> ((s, d) =>
      Citations.closeness(Citations.edges(s, d))),
    "citation_reciprocity" -> ((s, d) =>
      Citations.reciprocity(Citations.edges(s, d))),
    // directed connected-triad census: 13 Holland-Leinhardt classes,
    // open wedges counted combinatorially (never enumerated)
    "citation_motifs" -> ((s, d) =>
      Citations.motifCensus(Citations.edges(s, d))),
    // rich-club coefficient curve: exact-integer ppm anchors over the
    // degree-histogram-bounded threshold grid
    "citation_rich_club" -> ((s, d) =>
      Citations.richClub(Citations.edges(s, d))),
    // average-neighbor-degree curve: within a degree class the mean of
    // means collapses to one exact integer ratio per k
    "citation_knn_degree" -> ((s, d) =>
      Citations.knnDegree(Citations.edges(s, d))),
    // FW–BW pivot kernel: SCC(pivot) as forward ∩ backward reach
    // closures — exact set semantics, so the oracle is a plain
    // recursive-UNION twin, no unrolled rounds needed
    "citation_scc" -> ((s, d) =>
      Citations.sccPivot(Citations.edges(s, d))),
    // full SCC decomposition: bounded trim-to-core peel + iterated
    // FW–BW pivot extraction; labels are canonical (min member id),
    // so the twin is the same bounded schedule in SQL. The three SCC
    // consumers share ONE decomposition per dataset via the pinned
    // label cache (r12 directive: the family paid it ~3.5x per bench)
    "citation_scc_all" -> ((s, d) => Citations.sccLabelsCached(s, d)),
    // condensation DAG: the acyclic SCC quotient with edge multiplicities
    "citation_scc_condensation" -> ((s, d) =>
      Citations.sccCondensationFrom(Citations.edges(s, d),
        Citations.sccLabelsCached(s, d))),
    // topological levels (longest path from sources) over the
    // condensation — monotone propagation, convergence-or-throw at 12
    // rounds (measured fixpoints: rounds 4/7/9 at the three sfs)
    "citation_scc_layers" -> ((s, d) =>
      Citations.sccLayersFrom(Citations.edges(s, d),
        Citations.sccLabelsCached(s, d))),
    // edge-peeling cohesive subgraph (kCore's edge analogue): per-edge
    // triangle support recomputed per round, convergence-or-throw at 6
    // (measured fixpoint: round 2 at all three sfs and the 10× soak)
    "citation_ktruss" -> ((s, d) =>
      Citations.kTruss(Citations.edges(s, d))),
    // HyperBall 2-hop in-reach for every node — sketch-propagation, so
    // rows-only in the gate (engine-specific registers); error bound vs
    // the exact 2-hop closure asserted in SketchSpec
    "citation_hyperball" -> ((s, d) =>
      Citations.hyperBall(Citations.edges(s, d))),
    // the h-sweep HyperBall actually exists for: N(h) per hop + the
    // effective-diameter estimate; rows-only (sketch estimates), exact
    // pair-closure bound asserted in SketchSpec
    "citation_neighborhood_fn" -> ((s, d) =>
      Citations.neighborhoodFunction(Citations.edges(s, d)))
  )

  private val citationOracles: Map[String, String] = Map(
    "citation_reach" -> Citations.citationReachSql,
    "citation_triangles" -> Citations.citationTrianglesSql,
    "citation_local_clustering" -> Citations.citationLocalClusteringSql,
    "citation_link_predict" -> Citations.linkPredictRaSql,
    "citation_jaccard" -> Citations.linkPredictJaccardSql,
    "citation_assortativity" -> Citations.citationAssortativitySql,
    "citation_kcore" -> Citations.kCoreSql(),
    "citation_hits" -> Citations.hitsSql(iterations = 6),
    // a float fixpoint CAN be oracled when the iteration count is fixed
    // and both engines run operation-identical double arithmetic: the
    // unrolled CTE's only divergence is summation order (~1e-15 relative),
    // eight orders below the final round(rank, 8) grid
    "citation_pagerank" -> Citations.pageRankSql(iterations = 6),
    "citation_components" -> Citations.componentsSql(),
    "citation_ppr" -> Citations.personalizedPageRankSql(),
    "citation_lpa" -> Citations.lpaSql(),
    "citation_mis" -> Citations.misSql(),
    "citation_louvain" -> Citations.louvainSql(),
    "citation_louvain_stats" -> Citations.louvainStatsSql(),
    "citation_louvain_ml" -> Citations.louvainMlSql(),
    "citation_random_walks" -> Citations.randomWalksSql(),
    "citation_node2vec" -> Citations.node2vecWalksSql(),
    "citation_counts_ivm" -> Citations.countsIvmSql,
    "citation_bfs_paths" -> Citations.bfsPathsSql(),
    "citation_betweenness" -> Citations.betweennessSql(),
    "citation_closeness" -> Citations.closenessSql(),
    "citation_reciprocity" -> Citations.reciprocitySql,
    "citation_motifs" -> Citations.motifCensusSql,
    "citation_rich_club" -> Citations.richClubSql,
    "citation_knn_degree" -> Citations.knnDegreeSql,
    "citation_scc" -> Citations.sccPivotSql,
    "citation_scc_all" -> Citations.sccAllSql(),
    "citation_scc_condensation" -> Citations.sccCondensationSql(),
    "citation_scc_layers" -> Citations.sccLayersSql(),
    "citation_ktruss" -> Citations.kTrussSql(),
    "citation_counts" ->
      """SELECT CAST(l_partkey AS VARCHAR) AS paper_id, COUNT(*) AS citations
        |FROM lineitem GROUP BY 1 ORDER BY paper_id""".stripMargin,
    // the salted twin computes the identical aggregate, so it shares the
    // exact oracle
    "citation_counts_salted" ->
      """SELECT CAST(l_partkey AS VARCHAR) AS paper_id, COUNT(*) AS citations
        |FROM lineitem GROUP BY 1 ORDER BY paper_id""".stripMargin,
    "citation_top30" ->
      """WITH c AS (
        |  SELECT CAST(l_partkey AS VARCHAR) AS paper_id, COUNT(*) AS citations
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY citations DESC, paper_id ASC) AS INT) AS rank,
        |       paper_id, citations
        |FROM c ORDER BY citations DESC, paper_id ASC LIMIT 30""".stripMargin,
    "citation_degree_dist" ->
      """WITH c AS (
        |  SELECT CAST(l_partkey AS VARCHAR) AS paper_id, COUNT(*) AS citations
        |  FROM lineitem GROUP BY 1)
        |SELECT citations, count(*) AS n_papers FROM c
        |GROUP BY citations ORDER BY citations""".stripMargin,
    "cocitation_topk" ->
      """WITH e AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS src,
        |         CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
        |ok AS (SELECT src FROM e GROUP BY src HAVING count(*) <= 100),
        |f AS (SELECT e.src, e.dst FROM e JOIN ok USING (src))
        |SELECT a.dst AS paper_a, b.dst AS paper_b, count(*) AS n_co
        |FROM f a JOIN f b ON a.src = b.src AND a.dst < b.dst
        |GROUP BY 1, 2
        |ORDER BY n_co DESC, paper_a, paper_b LIMIT 20""".stripMargin
  )

  /** One per implemented operator from SURVEY.md §2 / §7.4. */
  def queries: Map[String, Q] =
    citationQueries ++ Relational.queries ++ EventAnalytics.queries ++
      Dedup.queries ++ TextAnalysis.queries ++ Similarity.queries ++
      Multimodal.queries ++ Profiling.queries ++ Pipeline.queries ++
      Sketches.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    citationOracles ++ Relational.oracles ++ EventAnalytics.oracles ++
      Dedup.oracles ++ TextAnalysis.oracles ++ Similarity.oracles ++
      Multimodal.oracles ++ Profiling.oracles ++ Pipeline.oracles ++
      Sketches.oracles

  /** Dataset-DEPENDENT oracles — twins generated against a fitted model
    * so both engines consume identical literals (the PCA eigenbasis).
    * Verify evaluates this with the sfDir in hand and merges it over
    * [[oracleSql]]; each entry is individually guarded so a failing fit
    * (e.g. a nonexistent sfDir) drops only that twin instead of faulting
    * the dump. The name stays in `oracle_keys.json`
    * ([[dynamicOracleNames]]), so `oracle_check.py` reports the query as
    * a failure, not rows-only. */
  def dynamicOracleSql(s: SparkSession, d: String): Map[String, String] =
    dynamicOracleNames.flatMap { k =>
        try Similarity.dynamicOracles(s, d).get(k).map(k -> _)
        catch {
          case e: Throwable =>
            System.err.println(s"[verify] dynamic oracle $k failed: ${e.getMessage}")
            None
        }
      }.toMap

  /** The queries [[dynamicOracleSql]] builds twins for, known without a
    * fit — so a failed fit still counts them as oracled. */
  val dynamicOracleNames: Seq[String] = Seq("embedding_pca_project",
    "embedding_whiten", "ann_ivf", "ann_lsh", "ann_pq", "ann_ivf_pq",
    "corpus_bitext_mine_ann", "dedup_embedding")

  /** Deterministic presentation order per query, applied ONLY by the
    * Verify harness before writing (the driver's hash compare wants stable
    * rows; the operators themselves stay sort-free). Keys absent here are
    * either intrinsically ordered (top-k) or rows-only checked. */
  val verifyOrder: Map[String, Seq[Column]] = Map(
    "citation_counts" -> Seq(col("paper_id")),
    "citation_counts_salted" -> Seq(col("paper_id")),
    "citation_degree_dist" -> Seq(col("citations")),
    "citation_reach" -> Seq(col("paper_id")),
    "citation_pagerank" -> Seq(col("paper_id")),
    "citation_kcore" -> Seq(col("paper_id")),
    "citation_hits" -> Seq(col("paper_id")),
    "citation_components" -> Seq(col("paper_id")),
    "citation_ppr" -> Seq(col("paper_id")),
    "citation_lpa" -> Seq(col("paper_id")),
    "citation_mis" -> Seq(col("paper_id")),
    "citation_louvain" -> Seq(col("paper_id")),
    "citation_louvain_stats" -> Seq(col("community")),
    "citation_louvain_ml" -> Seq(col("paper_id")),
    "citation_random_walks" -> Seq(col("paper_id"), col("walk_id")),
    "citation_node2vec" -> Seq(col("paper_id"), col("walk_id")),
    "citation_counts_ivm" -> Seq(col("paper_id")),
    "citation_bfs_paths" -> Seq(col("paper_id")),
    "citation_betweenness" -> Seq(col("paper_id")),
    "citation_closeness" -> Seq(col("paper_id")),
    "citation_reciprocity" -> Seq(col("m")),
    "citation_motifs" -> Seq(col("motif")),
    "citation_rich_club" -> Seq(col("k")),
    "citation_knn_degree" -> Seq(col("k")),
    "citation_scc" -> Seq(col("paper_id")),
    "citation_scc_all" -> Seq(col("paper_id")),
    "citation_scc_condensation" -> Seq(col("src_scc"), col("dst_scc")),
    "citation_scc_layers" -> Seq(col("scc_id")),
    "citation_ktruss" -> Seq(col("a"), col("b")),
    "citation_neighborhood_fn" -> Seq(col("h")),
    "join_asof" -> Seq(col("event_id")),
    "join_range" -> Seq(col("user_id"), col("session_start")),
    "events_concurrency" -> Seq(col("user_id"), col("session_start")),
    "events_forecast_backtest" -> Seq(col("event_type")),
    "events_anomaly_mad" -> Seq(col("event_type"), col("day")),
    "events_seasonal_decompose" -> Seq(col("event_type"), col("day")),
    "events_autocorr" -> Seq(col("event_type"), col("k")),
    "events_pacf" -> Seq(col("event_type"), col("k")),
    "q1_pricing_summary" -> Seq(col("l_returnflag"), col("l_linestatus")),
    "q5_region_revenue" -> Seq(col("revenue").desc, col("n_name")),
    "join_broadcast_region" -> Seq(col("r_name")),
    "join_semi" -> Seq(col("c_custkey")),
    "join_anti" -> Seq(col("c_custkey")),
    "join_outer_order_counts" -> Seq(col("c_custkey")),
    "agg_rollup" -> Seq(col("o_orderstatus").asc_nulls_first,
      col("o_orderpriority").asc_nulls_first),
    "agg_cube" -> Seq(col("l_returnflag").asc_nulls_first,
      col("l_linestatus").asc_nulls_first),
    "agg_grouping_sets" -> Seq(col("c_mktsegment").asc_nulls_first,
      col("n_name").asc_nulls_first),
    "distinct_parts_per_order" -> Seq(col("l_orderkey")),
    "basket_lift" -> Seq(col("part_a"), col("part_b")),
    "basket_apriori_triples" -> Seq(col("n_abc").desc, col("pa"), col("pb"),
      col("pc")),
    "basket_rules" -> Seq(col("antecedent"), col("consequent")),
    "orders_rfm" -> Seq(col("o_custkey")),
    "orders_cohort_ltv" -> Seq(col("cohort"), col("age")),
    "orders_pareto" -> Seq(col("decile")),
    "events_survival" -> Seq(col("day")),
    "window_running_revenue" -> Seq(col("o_custkey"), col("o_orderdate"),
      col("o_orderkey")),
    "window_top2_per_segment" -> Seq(col("c_mktsegment"), col("rn")),
    "window_lag_delta" -> Seq(col("o_custkey"), col("o_orderkey")),
    "setop_intersect" -> Seq(col("c_custkey")),
    "setop_except" -> Seq(col("c_custkey")),
    "setop_union" -> Seq(col("c_custkey")),
    "scalar_string_funcs" -> Seq(col("p_partkey")),
    "scalar_date_monthly" -> Seq(col("month")),
    "pivot_status_by_priority" -> Seq(col("o_orderpriority")),
    "agg_percentiles" -> Seq(col("o_orderpriority")),
    "unpivot_revenue" -> Seq(col("l_returnflag"), col("metric")),
    "subquery_above_brand_avg" -> Seq(col("p_partkey")),
    "q4_late_orders" -> Seq(col("o_orderpriority")),
    "q18_big_orders" -> Seq(col("o_orderkey")),
    "q13_order_distribution" -> Seq(col("c_count")),
    "q7_volume_shipping" -> Seq(col("supp_nation"), col("cust_nation"),
      col("l_year")),
    "q10_returned_items" -> Seq(col("revenue").desc, col("c_custkey")),
    "q14_promo_revenue" -> Seq(col("month")),
    "q22_lost_customers" -> Seq(col("c_mktsegment")),
    "q8_market_share" -> Seq(col("o_year")),
    "q9_profit_by_nation" -> Seq(col("nation"), col("o_year")),
    "q11_important_parts" -> Seq(col("p_partkey")),
    "q12_priority_shipping" -> Seq(col("l_returnflag")),
    "q15_top_supplier" -> Seq(col("s_suppkey")),
    "q16_supplier_part_counts" -> Seq(col("supplier_cnt").desc,
      col("p_brand"), col("p_type"), col("p_size")),
    "q20_excess_suppliers" -> Seq(col("s_name")),
    "window_distribution_funcs" -> Seq(col("c_custkey")),
    "window_frame_bounds" -> Seq(col("o_custkey"), col("o_orderkey")),
    "events_rolling_7d" -> Seq(col("user_id"), col("day")),
    "events_tumbling_hour" -> Seq(col("window_start"), col("event_type")),
    "events_sliding_hour" -> Seq(col("window_start")),
    "events_sessionize" -> Seq(col("user_id"), col("session_start")),
    "events_json_extract" -> Seq(col("event_type")),
    "events_distinct_users" -> Seq(col("event_type")),
    "events_funnel" -> Seq(col("stage")),
    "events_attribution" -> Seq(col("event_id")),
    "events_retention" -> Seq(col("cohort_day"), col("day_offset")),
    "events_daily_share" -> Seq(col("day"), col("event_type")),
    "events_anomaly" -> Seq(col("day"), col("event_type")),
    "events_transitions" -> Seq(col("from_type"), col("to_type")),
    "events_paths" -> Seq(col("t1"), col("t2"), col("t3")),
    "events_markov_stationary" -> Seq(col("event_type")),
    "events_ewma" -> Seq(col("user_id"), col("event_id")),
    "events_ab_test" -> Seq(col("event_type")),
    "events_cusum" -> Seq(col("event_type"), col("day")),
    "events_stickiness" -> Seq(col("day")),
    "events_heatmap" -> Seq(col("dow"), col("hour"), col("event_type")),
    "events_trend" -> Seq(col("event_type")),
    "events_ridge" -> Seq(col("event_type")),
    "events_holt" -> Seq(col("event_type"), col("h")),
    "events_holt_winters" -> Seq(col("event_type"), col("h")),
    "events_scd2" -> Seq(col("user_id"), col("version")),
    "events_scd2_merge" -> Seq(col("user_id"), col("version"))
  ) ++ Dedup.verifyOrder ++ TextAnalysis.verifyOrder ++
    Similarity.verifyOrder ++ Multimodal.verifyOrder ++
    Profiling.verifyOrder ++ Pipeline.verifyOrder ++ Sketches.verifyOrder
}
