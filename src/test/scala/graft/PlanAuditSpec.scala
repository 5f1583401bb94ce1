package graft

import org.scalatest.funsuite.AnyFunSuite

/** Blanket physical-plan audit over the ENTIRE query surface — the
  * programmatic complement of PLANS.md's curated walkthroughs. Every
  * member of SparkEntry.queries is plan-checked for the scale-killers
  * that individual specs assert pointwise:
  *
  *  - no CartesianProduct anywhere (candidate generation must block);
  *  - no ScalaUDF / interpreted lambdas in any plan (everything stays
  *    inside whole-stage codegen);
  *  - SinglePartition exchanges only where the data funneling through
  *    them is driver-scale BY CONSTRUCTION (global scalar aggregates,
  *    ≤256-row offset tables, final top-k merges) — the pinned whitelist
  *    below. A new query (or a regression to an old one) that serializes
  *    corpus-scale data through one partition fails this spec loudly.
  *
  * Building a plan is cheap, but a few operators (pageRank's eager
  * checkpoints, the ANN model fits) execute during CONSTRUCTION — so
  * this runs at sf0.001, where those are sub-second.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val sf = "/root/testdata/sf0.001"

  /** Queries whose plan funnels a (bounded, documented) frame through a
    * SinglePartition exchange — measured, not guessed: these entries are
    * the ONLY members of the 137-query surface that plan one at all (top-k
    * merges plan as TakeOrderedAndProject, not exchanges; grids and
    * model fits stay partitioned or broadcast). Every entry is one of:
    *  - a global scalar aggregate (1-row frame): sample_stratified's
    *    min_n, pack_batches' n_shards, tfidf's document count N,
    *    events_funnel's 3 stage counts, mix_temperature's Σ n_lang^α,
    *    quality_unigram_logprob's corpus token total, q6's 1-row
    *    global revenue aggregate, layout_zorder's 4-value min-max
    *    normalization stats, citation_triangles' one triangle/wedge
    *    aggregate,
    *    search_bm25's (n_docs, sum_dl) corpus stats,
    *    quality_threshold_filter's 1-row median-ttr aggregate (exact
    *    percentile state bounded by the 6-dp score grid, ≤10^6 entries),
    *    quality_deciles' 1-row 9-threshold twin of the same aggregate;
    *  - the ≤256-row bucket-offset table of the seeded shuffle
    *    (corpus_shuffle, pretrain_manifest);
    *  - a schema-bounded profile (one row per COLUMN, not per record:
    *    profile_documents, profile_orders);
    *  - a domain-bounded aggregate: doc_length_histogram's share window
    *    runs over the post-aggregate frame whose key is a long's bit
    *    length — ≤64 rows BY CONSTRUCTION.
    * Corpus-sized frames NEVER appear here — that is the assertion. */
  val singlePartitionOk: Set[String] = Set(
    // global scalar aggregates (1-row frames)
    "sample_stratified", "pack_batches", "tfidf_topk", "events_funnel",
    "mix_temperature", "quality_unigram_logprob", "q6_forecast_revenue",
    "layout_zorder", "citation_triangles", "search_bm25",
    "quality_threshold_filter", "quality_deciles",
    // quality_bigram_logprob: the 1-row vocabulary-size aggregate (the
    // quality_unigram_logprob corpus-total shape)
    "quality_bigram_logprob",
    // quality_kneser_ney: the 1-row distinct-bigram-type aggregate
    // N1+(··) (the quality_bigram_logprob vocabulary-size shape)
    "quality_kneser_ney",
    // profile_benford: the share window over the ≤9-row digit-domain
    // aggregate (the doc_length_histogram bit-length-domain shape)
    "profile_benford",
    // events_forecast_backtest: the 1-row holdout-cutoff max aggregate
    // (the events_survival anchor shape); the model frame is ≤|types|
    "events_forecast_backtest",
    // mix_quota: total/leftover/rank windows all run on the ≤|langs|-row
    // token-count aggregate (the doc_length_histogram bounded-domain
    // shape)
    "mix_quota",
    // q19's 1-row global revenue aggregate; q22's 1-row exact-ingredient
    // average (both the q6 scalar-aggregate shape)
    "q19_discounted_revenue", "q22_lost_customers",
    // q15's 1-row scalar max over the per-supplier revenue view; q17's
    // 1-row final revenue sum; q11's 1-row global value cutoff — all the
    // q6 scalar-aggregate shape
    "q15_top_supplier", "q17_small_qty_revenue", "q11_important_parts",
    // events_session_stats' 1-row session-shape summary (percentile state
    // one entry per distinct duration/size — data-bounded)
    "events_session_stats",
    // ≤256-row bucket-offset tables
    "corpus_shuffle", "pretrain_manifest",
    // schema-bounded profiles (rows = #columns, or #column-pairs for the
    // exact-ingredient correlation matrix)
    "profile_documents", "profile_orders", "profile_corr",
    // profile_entropy: per-branch global aggregates over VALUE-COUNT
    // frames (one row per distinct categorical value, partial-aggregated
    // before the funnel) — cardinality-bounded, the profile shape
    "profile_entropy",
    // citation_assortativity: the final 6-number moment aggregate — one
    // partial tuple per partition reaches the single partition (q6 shape)
    "citation_assortativity",
    // citation_reciprocity: the final (m, reciprocated) global count —
    // one partial pair per partition reaches the single partition
    "citation_reciprocity",
    // ≤64-row bit-length-domain aggregate
    "doc_length_histogram",
    // search_hybrid_rrf: the bm25 leg's 1-row corpus-stats aggregate
    // (the q6 shape) plus the post-limit rank windows — global
    // row_number over frames ALREADY capped at <= 20 rows by
    // TakeOrderedAndProject (the citation_top30 shape)
    "search_hybrid_rrf",
    // citation_hits: the LAST half-step's 1-row L2-norm aggregates stay
    // in the returned frame's lineage (the sparse restructure defers the
    // final division to the output zip; earlier rounds' norms are behind
    // checkpoint cuts) — global scalar aggregates, the q6 shape
    "citation_hits",
    // profile_drift: the 1-row (T, H) split-totals aggregate folded onto
    // the cardinality-bounded (dim, value) cells — the q6 scalar shape
    "profile_drift",
    // basket_lift: the 1-row basket-count (N) aggregate folded onto the
    // support-pruned pair frame — the q6 scalar shape
    "basket_lift",
    // basket_apriori_triples: the same 1-row basket-count fold, applied
    // twice (L2 floor + triple floor) — the q6 scalar shape
    "basket_apriori_triples",
    // basket_rules: the same 1-row basket-count fold (support floor +
    // lift's N numerator) — the basket_lift shape
    "basket_rules",
    // lang_id_fasttext: two 1-row model-stat aggregates in the scoring
    // plan — the corpus doc total and the distinct-feature vocabulary
    // size V (count_distinct's partial state is the distinct feature
    // set, partial-aggregated per partition before the funnel; V itself
    // is one number folded back as a broadcast) — the q6 scalar shape
    "lang_id_fasttext",
    // citation_motifs: the 1-row open-wedge totals aggregate (6 BIGINT
    // class sums — the per-node tallies collapse to ONE row by schema)
    // plus the 13-row class catalog — both bounded by construction
    "citation_motifs",
    // profile_ks: the 1-row corpus-total fold onto the value-grid-bounded
    // (type, bin) frame — the q6 scalar shape
    "profile_ks",
    // orders_rfm: the 1-row anchor-date and 9-threshold quartile
    // aggregates (percentile state bounded by the metric value grids)
    // folded onto the per-customer frame — the quality_deciles shape
    "orders_rfm",
    // orders_pareto: the ≤1024-row bucket-offset table's cumulative
    // windows (the corpus_shuffle offsets shape), the ≤10-row decile
    // frame's Gini window, and the 1-row max/total aggregates
    "orders_pareto",
    // events_survival: every window runs on the CALENDAR-bounded day
    // frame (≤ span+1 rows — the events_heatmap bound); plus the 1-row
    // observation-cutoff aggregate (q6 shape)
    "events_survival",
    // profile_integrity: per FK edge, the two 1-row audit aggregates
    // (orphan totals, child totals) fold together — the fact side
    // collapsed to per-key counts before any of this
    "profile_integrity",
    // (citation_scc_all dropped r13: the decomposition runs once inside
    // sccLabelsCached, memoized per session at construction time, so this
    // query's own plan is a LogicalRDD read + rollup with no scalar
    // exchange left)
    // events_scd2_merge: the 1-row max-ts split anchor (the
    // events_survival cutoff shape)
    "events_scd2_merge",
    // events_seasonal_decompose: the 1-row (dmin, dmax) span aggregate
    // that the calendar spine explodes from — the q6 scalar shape
    "events_seasonal_decompose",
    // events_autocorr: the same 1-row span aggregate + spine shape
    "events_autocorr",
    // events_ridge: the 1-row global min-day anchor (the
    // events_survival cutoff shape)
    "events_ridge"
  )

  // Work shared across queries lives in Tables.memo, keyed on the session
  // and the content of what it read; the session catalog belongs to the
  // user. An operator with its own map or a catalog write breaks both.
  test("operators keep no private cache and write no temp view") {
    val dir = new java.io.File("src/main/scala/graft/operators")
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"no sources under ${dir.getAbsolutePath}")
    val hits = for {
      f <- files.toSeq.sortBy(_.getName)
      (line, i) <- java.nio.file.Files.readString(f.toPath).linesIterator.toSeq.zipWithIndex
      word <- Seq("createOrReplaceTempView", "createTempView", "ConcurrentHashMap")
      if line.contains(word)
    } yield s"${f.getName}:${i + 1}: $word"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("every query plan: no cartesian, no UDFs, single-partition only where bounded") {
    val plans = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sf).queryExecution.executedPlan.toString
    }
    val cartesian = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(cartesian.isEmpty, s"cartesian products in: $cartesian")
    val udfs = plans.collect {
      case (n, p) if p.contains("ScalaUDF") || p.contains("BatchEvalPython") => n
    }
    assert(udfs.isEmpty, s"UDFs in: $udfs")
    val single = plans.collect {
      case (n, p) if p.contains("Exchange SinglePartition") => n
    }.toSet
    val unexplained = single -- singlePartitionOk
    assert(unexplained.isEmpty,
      s"NEW single-partition exchanges need a bounded-size justification: $unexplained")
    val stale = singlePartitionOk -- single
    assert(stale.isEmpty,
      s"whitelist entries no longer needed (plan improved? update the list): $stale")
    // BroadcastNestedLoopJoin is the other cartesian-class operator: fine
    // when the build side is a 1-row scalar frame (a constant folded into
    // every row), corpus-death otherwise. Pin the measured set.
    val bnlj = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") => n
    }.toSet
    val bnljUnexplained = bnlj -- oneRowBuildOk
    assert(bnljUnexplained.isEmpty,
      s"NEW nested-loop joins need a 1-row-build justification: $bnljUnexplained")
    assert((oneRowBuildOk -- bnlj).isEmpty,
      s"BNLJ whitelist entries no longer needed: ${oneRowBuildOk -- bnlj}")
  }

  /** Queries whose plan contains a BroadcastNestedLoopJoin — measured;
    * every build side is SMALL BY CONSTRUCTION, one of two shapes:
    *  - a 1-ROW scalar aggregate folded onto every row:
    *    sample_stratified's min_n, pack_batches' total-token count,
    *    tfidf_topk's document count N, dedup_embedding's threshold,
    *    mix_temperature's (z, n_total) pair, quality_unigram_logprob's
    *    corpus token total;
    *  - a 1-row bounded MODEL frame folded onto every row:
    *    contamination_bloom's ≤128 KiB Bloom bitmap (state ≤ 2^20 bits
    *    BY CONSTRUCTION), layout_zorder's 4-value min-max stats row;
    *  - the bounded probe/model frame of the ANN queries (16 probe
    *    vectors / C centroids — O(query set), not O(corpus)), which
    *    every corpus row must score against BY DEFINITION of top-k
    *    search: ann_topk, ann_topk_fused, ann_ivf, ann_ivf_pq (its
    *    coarse-quantizer assignment — the PQ stages stay equi-joined).
    * Nothing corpus-sized ever builds a nested loop — that is the
    * assertion. */
  lazy val oneRowBuildOk: Set[String] = Set(
    "sample_stratified", "pack_batches", "tfidf_topk", "dedup_embedding",
    "mix_temperature", "quality_unigram_logprob",
    "contamination_bloom", "layout_zorder",
    // profile_entropy: each branch folds its 1-row total-count aggregate
    // onto the value-count frame (the quality_unigram_logprob shape)
    "profile_entropy",
    "ann_topk", "ann_topk_fused", "ann_ivf", "ann_ivf_pq",
    // embedding_knn_classify: the stride-bounded probe batch broadcast
    // against one corpus scan (the ann_topk shape — annKnnGraph hides
    // the same BNLJ behind its lineage cut; this plan keeps it visible)
    "embedding_knn_classify",
    // embedding_triplet_mine: the same stride-bounded anchor batch
    // broadcast against one fused-cosine corpus scan (the
    // embedding_knn_classify shape, extrema instead of top-k)
    "embedding_triplet_mine",
    // lang_id_fasttext: two 1-row scalar folds onto the doc-feature
    // frame — the |langs|-row class table (model-sized by schema) and
    // the 1-row vocabulary size V (the quality_unigram_logprob shape)
    "lang_id_fasttext",
    // citation_rich_club: the threshold θ-joins run histogram ×
    // histogram (≤|distinct degrees| rows each side — the degree_dist
    // bound); the corpus collapsed before any of this
    "citation_rich_club",
    // search_bm25: the 1-row (n_docs, sum_dl) corpus-stats frame folded
    // onto every scored (doc, term) row
    "search_bm25",
    // quality_threshold_filter / quality_deciles: the 1-row threshold
    // frame (median / 9 deciles) folded onto every scored doc
    "quality_threshold_filter", "quality_deciles",
    // q22: the 1-row average-balance frame folded onto every customer
    "q22_lost_customers",
    // q11: the 1-row global value-cutoff frame folded onto every
    // per-part value row (inequality predicate, so no hash join exists)
    "q11_important_parts",
    // quality_bigram_logprob: the 1-row vocabulary-size frame folded
    // onto every corpus bigram (the unigram corpus-total shape)
    "quality_bigram_logprob",
    // quality_kneser_ney: the 1-row N1+(··) bigram-type-count frame
    // folded onto every corpus bigram (the bigram vocabulary shape)
    "quality_kneser_ney",
    // search_hybrid_rrf: inherits bm25's 1-row corpus-stats fold and
    // adds the dense leg's 1-row probe-vector frame (the ann_topk shape)
    "search_hybrid_rrf",
    // citation_hits: the final half-step's two 1-row L2-norm frames
    // folded into the output divisions (earlier rounds' folds are behind
    // checkpoint cuts and never reach this plan)
    "citation_hits",
    // profile_drift: the same 1-row totals frame nested-loop-folded onto
    // every cell (the q6/sample_stratified scalar shape)
    "profile_drift",
    // basket_lift: the 1-row N frame nested-loop-folded onto every
    // surviving pair (the q6 scalar shape)
    "basket_lift",
    // basket_apriori_triples: the same 1-row N fold at both support
    // floors (the basket_lift shape)
    "basket_apriori_triples",
    // basket_rules: the same 1-row N fold (support floor + lift
    // numerator) — the basket_lift shape
    "basket_rules",
    // profile_ks: the 1-row corpus-total frame nested-loop-folded onto
    // the bounded grid (the q6 scalar shape)
    "profile_ks",
    // orders_rfm: the anchor and threshold 1-row frames nested-loop-
    // folded onto every customer (the quality_deciles shape)
    "orders_rfm",
    // orders_pareto: the 1-row revenue-max (bucket scale) and 1-row
    // (n, total) frames nested-loop-folded onto every customer
    "orders_pareto",
    // events_survival: the 1-row observation-cutoff date folded onto
    // every user (the orders_rfm anchor shape)
    "events_survival",
    // (citation_scc_all dropped r13: behind the memoized labels its
    // plan is a LogicalRDD read + rollup — the per-extraction scalar
    // folds run once inside sccLabelsCached, not in this query's plan)
    // events_seasonal_decompose: the calendar-bounded day spine
    // (explode of the 1-row span aggregate, ≤ span rows) broadcast-
    // folded onto the ≤|types|-row distinct frame to form the dense
    // grid — bounded by calendar × schema, never by corpus volume
    "events_seasonal_decompose",
    // events_autocorr: the same calendar-spine broadcast fold
    "events_autocorr",
    // events_scd2_merge: the 1-row max-ts split anchor nested-loop-
    // folded onto the event stream (the events_survival cutoff shape)
    "events_scd2_merge",
    // events_forecast_backtest: the 1-row holdout-cutoff anchor nested-
    // loop-folded onto the daily frame (the events_scd2_merge shape)
    "events_forecast_backtest",
    // events_ridge: the 1-row global min-day anchor nested-loop-folded
    // onto the daily frame (the events_forecast_backtest shape)
    "events_ridge",
    // profile_integrity: per FK edge, the two 1-row audit aggregates
    // (orphan totals, child totals) fold together — the fact side
    // collapsed to per-key counts before any of this
    "profile_integrity"
  )
}
