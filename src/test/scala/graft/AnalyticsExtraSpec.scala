package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, sum => fsum}
import org.apache.spark.sql.sources.{BaseRelation, TableScan}

import graft.operators.{Citations, EventAnalytics, Pipeline, Profiling, TextAnalysis}

class AnalyticsExtraSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("events_funnel: stages shrink monotonically and stay ordered") {
    val stages = EventAnalytics.eventsFunnel(spark, sf)
      .as[(String, Long)].collect().sortBy(_._1)
    assert(stages.map(_._1).toSeq ===
      Seq("1_view", "2_view_click", "3_view_click_purchase"))
    val ns = stages.map(_._2)
    assert(ns(0) >= ns(1) && ns(1) >= ns(2), s"funnel widened: ${ns.toSeq}")
    assert(ns(0) > 0, "no viewers in the corpus - fixture not exercising the funnel")
  }

  test("events_rolling_7d: rolling sums equal a brute-force day-window recompute") {
    val got = EventAnalytics.rolling7d(spark, sf)
      .as[(Long, java.sql.Timestamp, Long, Long, Double)].collect()
    // brute-force twin from the raw events, same decimal discipline
    val raw = Tables.load(spark, sf, "events")
      .selectExpr("user_id", "CAST(date_trunc('day', ts) AS DATE) AS day",
        "CAST(value AS DECIMAL(18,6)) AS v")
      .as[(Long, java.sql.Date, java.math.BigDecimal)].collect()
    val daily = raw.groupBy(r => (r._1, r._2.toLocalDate)).map { case ((u, day), rs) =>
      (u, day) -> ((rs.length.toLong, rs.map(r => BigDecimal(r._3)).sum))
    }
    assert(got.length === daily.size)
    got.foreach { case (u, dayTs, n, rollN, rollV) =>
      val day = dayTs.toLocalDateTime.toLocalDate
      assert(daily((u, day))._1 === n)
      val window = daily.filter { case ((u2, d2), _) =>
        u2 == u && !d2.isAfter(day) && d2.isAfter(day.minusDays(7))
      }.values
      assert(window.map(_._1).sum === rollN, s"user $u day $day roll_events")
      val expectV = window.map(_._2).sum
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rollV === expectV, s"user $u day $day roll_value")
    }
    // gaps exist somewhere: some window spans fewer than 7 active days
    // yet more than 1 (i.e. the RANGE frame is doing real work)
    assert(got.exists(r => r._4 > r._3))
  }

  test("events_session_stats: consistent with the sessionize frame it summarizes") {
    val row = EventAnalytics.sessionStats(spark, sf)
      .as[(Long, Double, Double, Double, Double, Double)].collect().head
    val sessions = EventAnalytics.sessionize(spark, sf)
      .selectExpr("CAST(unix_timestamp(session_end) - unix_timestamp(session_start) AS LONG) AS dur",
        "n_events")
      .as[(Long, Long)].collect()
    val (n, p50d, p90d, p50e, p90e, share) = row
    assert(n === sessions.length.toLong)
    def pct(xs: Seq[Long], q: Double): Double = {
      val s = xs.sorted; val rank = (s.length - 1) * q
      val (lo, g) = (s(rank.toInt), rank - rank.toInt)
      BigDecimal(lo + g * (s(math.ceil(rank).toInt) - lo))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(p50d === pct(sessions.map(_._1), 0.5))
    assert(p90d === pct(sessions.map(_._1), 0.9))
    assert(p50e === pct(sessions.map(_._2), 0.5))
    assert(p90e === pct(sessions.map(_._2), 0.9))
    val expectShare = BigDecimal(
      sessions.count(_._2 > 1) * 1.0 / sessions.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(share === expectShare)
    // every session lasts >= the 30-min close-out gap
    assert(sessions.forall(_._1 >= 1800L))
  }

  test("citation_reach: exactly 5 seeds at hop 0, hops bounded at 3") {
    val r = Citations.citationReach(spark, sf).as[(String, Int)].collect()
    assert(r.nonEmpty)
    assert(r.forall(x => x._2 >= 0 && x._2 <= 3))
    assert(r.count(_._2 == 0) === 5, "seed set must sit at hop 0")
    // paper_ids unique (min-hop is a function)
    assert(r.map(_._1).distinct.length === r.length)
  }

  test("events_retention: offset-0 equals cohort sizes; later offsets never exceed") {
    val r = EventAnalytics.eventsRetention(spark, sf)
      .as[(java.sql.Timestamp, Int, Long)].collect()
    val byCohort = r.groupBy(_._1)
    byCohort.foreach { case (_, rows) =>
      val m = rows.map(x => x._2 -> x._3).toMap
      assert(m.contains(0), "cohort missing its own day-0 row")
      m.foreach { case (_, n) => assert(n <= m(0), s"offset count exceeds cohort size: $m") }
    }
    assert(r.forall(x => x._2 >= 0 && x._2 <= 7))
  }

  test("degree distribution: papers-weighted sum reproduces totals") {
    val edges = Citations.edges(spark, sf)
    val dist = Citations.degreeDistribution(edges).cache()
    // sum(citations * n_papers) == total edges; sum(n_papers) == distinct papers
    val totalEdges = dist.select(fsum(col("citations") * col("n_papers")))
      .first().getLong(0)
    assert(totalEdges === edges.count())
    val papers = dist.select(fsum(col("n_papers"))).first().getLong(0)
    assert(papers === edges.select("dst").distinct().count())
  }

  test("co-citation: hand oracle on a tiny graph, with the out-degree cap") {
    val edges = Seq(
      ("s1", "a"), ("s1", "b"), ("s1", "c"),  // pairs ab, ac, bc
      ("s2", "a"), ("s2", "b"),               // pair ab again
      ("s3", "z")                             // no pair
    ).toDF("src", "dst")
    val got = Citations.coCitationTopk(edges)
      .as[(String, String, Long)].collect().toSeq
    assert(got === Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "c", 1L)))
    // the cap drops hub sources entirely
    val capped = Citations.coCitationTopk(edges, maxOutDegree = 2)
      .as[(String, String, Long)].collect().toSeq
    assert(capped === Seq(("a", "b", 1L))) // only s2 survives
  }

  test("link prediction (RA): hand oracle — weights, anti-join of linked pairs, cap") {
    // citers: s1 -> {a,b} (term 1/2), s2 -> {a,b,c} (term 1/3 -> 0.333333333),
    // s3 -> {b,c} (term 1/2); plus a DIRECT edge a -> b, which makes the
    // highest-scoring pair (a,b) "already linked" and anti-joined away
    val edges = Seq(
      ("s1", "a"), ("s1", "b"),
      ("s2", "a"), ("s2", "b"), ("s2", "c"),
      ("s3", "b"), ("s3", "c"),
      ("a", "b")
    ).toDF("src", "dst")
    val got = Citations.linkPredictRa(edges)
      .as[(String, String, Long, Double)].collect().toSeq
    // (b,c): 1/3 + 1/2 = 0.833333333; (a,c): 1/3; (a,b) excluded as linked
    assert(got === Seq(("b", "c", 2L, 0.833333333), ("a", "c", 1L, 0.333333333)))
    // the cap drops hub citers from pair generation entirely
    val capped = Citations.linkPredictRa(edges, maxOutDegree = 2)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(capped === Seq(("b", "c", 1L, 0.5)))
  }

  test("citation_components: min-label floods each component; fixpoint inside cap") {
    // chain c->b->a floods label "a" in 2 rounds (direction-insensitive);
    // {x,y} is a separate component; the self-loop z-z contributes no
    // node (matching the oracle's und construction exactly)
    val edges = Seq(("b", "a"), ("c", "b"), ("y", "x"), ("z", "z"))
      .toDF("src", "dst")
    val got = Citations.components(edges).as[(String, String)]
      .collect().sorted.toSeq
    assert(got === Seq(("a", "a"), ("b", "a"), ("c", "a"),
      ("x", "x"), ("y", "x")))
    // the semantic FIXPOINT property on real sf0.001 edges (the
    // convergence loop already exited on a no-change round; this asserts
    // the object it converged TO is the true component labeling — the
    // condition under which the shortcut-hop loop and the oracle's plain
    // 10-round propagation provably coincide): endpoints agree across
    // every edge, labels are component minima, labels are idempotent
    val e = Citations.edges(spark, sf)
    val r = Citations.components(e).as[(String, String)].collect()
    val lab = r.toMap
    assert(r.forall { case (id, label) => label <= id })
    assert(r.forall { case (_, label) => lab(label) === label })
    Citations.edges(spark, sf).as[(String, String)].collect()
      .filter(p => p._1 != p._2)
      .foreach { case (a, b) =>
        assert(lab(a) === lab(b), s"edge ($a, $b) spans two labels")
      }
  }

  test("kCore: hand fixture — triangle survives, pendant chain peels off; fixpoint inside cap") {
    // triangle {a,b,c} + chain c-d-e: e (deg 1) peels in round 1, which
    // drops d to deg 1 so it peels in round 2; the triangle is the 2-core.
    // Direction/duplicate robustness: one edge reversed, one duplicated.
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"), ("c", "a"), // dup
      ("c", "d"), ("e", "d") // chain, one edge "reversed"
    ).toDF("src", "dst")
    val (got, jobs) = SparkTestBase.jobsOf(
      Citations.kCore(edges).as[(String, Long)].collect().sorted.toSeq)
    assert(got === Seq(("a", 2L), ("b", 2L), ("c", 2L)))
    // 2 jobs for the edge-set cut (its dedup's shuffle-map job, then the
    // checkpoint), 2 for each of the three degree-table cuts, 2 for each
    // of the two peels (the qualifying nodes' broadcast, then the
    // checkpoint) and 1 for the collect. The convergence test rides on
    // the degree cuts: an action per round on them would read more
    assert(jobs === 13)
    // convergence inside the 8-round cap: one extra round changes nothing
    val more = Citations.kCore(edges, rounds = 9)
      .as[(String, Long)].collect().sorted.toSeq
    assert(more === got)
    // k=3 on this graph is empty (triangle nodes have core degree 2)
    assert(Citations.kCore(edges, k = 3).count() === 0L)
  }

  // triangle {1,2,3} + pendant chain 3-10-11-...-17: the chain peels
  // one node per round from its tip, so the 2-core needs exactly 8 peels
  private lazy val chain8 = {
    val chain = (3 +: (10 to 17)).sliding(2).map(p => (p(0), p(1))).toSeq
    (Seq((1, 2), (2, 3), (3, 1)) ++ chain).toDF("l_orderkey", "l_partkey")
  }
  private def chainEdges = chain8.select(col("l_orderkey").cast("string").as("src"),
    col("l_partkey").cast("string").as("dst"))

  test("kCore: rounds caps real peels — an 8-peel chain converges at 8, throws at 7") {
    val got = Citations.kCore(chainEdges, rounds = 8).as[(String, Long)].collect().sorted.toSeq
    assert(got === Seq(("1", 2L), ("2", 2L), ("3", 2L)))
    // the default cap is 8 peels
    assert(Citations.kCore(chainEdges).as[(String, Long)].collect().sorted.toSeq === got)
    intercept[IllegalStateException](Citations.kCore(chainEdges, rounds = 7))
  }

  test("kCoreSql: the 8-round unroll covers kCore's default cap (DuckDB)") {
    // the twin runs on DuckDB exactly as the oracle gate runs it: 8
    // unrolled rounds reach the 8-peel fixpoint kCore accepts by default,
    // 7 do not — so the twin's depth is exactly what the cap needs
    val dir = java.nio.file.Files.createTempDirectory("kcore_chain").toString
    chain8.coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem")
    val run = """import duckdb, sys
      |con = duckdb.connect()
      |con.execute("CREATE VIEW lineitem AS SELECT * FROM read_parquet('"
      |            + sys.argv[1] + "/lineitem/*.parquet')")
      |for r in con.execute(sys.stdin.read()).fetchall():
      |    print(f"{r[0]}\t{r[1]}")""".stripMargin
    def twin(rounds: Int): Seq[(String, Long)] = {
      import scala.sys.process._
      val sql = new java.io.ByteArrayInputStream(
        Citations.kCoreSql(rounds = rounds).getBytes("UTF-8"))
      (Seq("python3", "-c", run, dir) #< sql).!!.linesIterator.map { l =>
        val Array(id, d) = l.split('\t'); (id, d.toLong)
      }.toSeq.sorted
    }
    val spark8 = Citations.kCore(chainEdges).as[(String, Long)].collect().sorted.toSeq
    try {
      assert(Citations.kCoreSql() === Citations.kCoreSql(rounds = 8))
      assert(twin(8) === spark8)
      assert(twin(7) !== spark8)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  // Partition-width invariance for the triangle/peel family and the
  // exact-valued fixpoint loops: cut widths, AQE coalescing and broadcast
  // choices move plan shape, never results — every column of every row
  // must match at shuffle.partitions 1, 4, 8.
  private def rowsAtWidth(query: String, width: Int): Seq[String] = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, width.toString)
    try {
      val df = SparkEntry.queries(query)(spark, sf)
      df.select(df.columns.sorted.map(df.col): _*)
        .collect().map(_.toString).sorted.toSeq
    } finally spark.conf.set(key, prev)
  }

  // Left out: citation_louvain (+ _stats, _ml) and citation_scc_all
  // (+ _condensation, _layers) read dataset-keyed label caches, so widths
  // 4 and 8 would be answered from the width-1 run's labels.
  for (q <- Seq("citation_triangles", "citation_local_clustering",
                "citation_ktruss", "citation_kcore", "citation_components",
                "citation_lpa", "citation_mis", "citation_scc",
                "citation_bfs_paths", "citation_hits", "citation_link_predict",
                "citation_jaccard", "citation_random_walks", "citation_node2vec",
                "citation_betweenness", "citation_closeness", "citation_motifs"))
    test(s"$q: identical rows at shuffle.partitions 1/4/8") {
      val base = rowsAtWidth(q, 1)
      assert(base.nonEmpty, s"$q returned no rows at sf0.001")
      Seq(4, 8).foreach { w =>
        assert(rowsAtWidth(q, w) === base, s"$q differs at shuffle.partitions=$w")
      }
    }

  // The same invariance with each keyed cut's own width moving. Over an
  // edge relation that reports no size, Blocks.cutPartitions falls back to
  // shuffle.partitions, so widths 1, 4 and 8 re-width the set-up cut
  // itself (at sf0.001 a sized cut sits at its floor of 4 whatever the
  // session says).
  private lazy val edgeRows = Citations.edges(spark, sf).collect().toSeq

  private def atCutWidth[A](width: Int)(body: DataFrame => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, width.toString)
    try {
      val rel = new BaseRelation with TableScan {
        override def sqlContext = spark.sqlContext
        override def schema = Citations.edges(spark, sf).schema
        override def buildScan() = spark.sparkContext.parallelize(edgeRows, 4)
      }
      val e = spark.baseRelationToDataFrame(rel)
      assert(Blocks.cutPartitions(e) === width, "the unsized edge frame did not take the session width")
      body(e)
    } finally spark.conf.set(key, prev)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(df.col): _*).collect().map(_.toString).sorted.toSeq

  for ((q, op) <- Seq[(String, DataFrame => DataFrame)](
         "citation_bfs_paths" -> (Citations.bfsPaths(_)),
         "citation_closeness" -> (Citations.closeness(_)),
         "citation_random_walks" -> (Citations.randomWalks(_)),
         "citation_node2vec" -> (Citations.node2vecWalks(_)),
         "citation_motifs" -> (Citations.motifCensus(_)),
         "citation_lpa" -> (Citations.lpa(_))))
    test(s"$q: identical rows at keyed-cut widths 1/4/8 over an unsized edge relation") {
      val base = atCutWidth(1)(e => sortedRows(op(e)))
      assert(base.nonEmpty, s"$q returned no rows at sf0.001")
      Seq(4, 8).foreach { w =>
        assert(atCutWidth(w)(e => sortedRows(op(e))) === base, s"$q differs at cut width $w")
      }
    }

  test("citation_hyperball: estimates within 1.6% at keyed-cut widths 1/4/8 over an unsized edge relation") {
    // 1.6% is the HLL relative standard error at lgK = 12; every node's
    // estimate is compared, not only the top 30
    def estimates(width: Int): Map[String, Long] = atCutWidth(width) { e =>
      Citations.hyperBall(e, k = Int.MaxValue).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val base = estimates(1)
    assert(base.nonEmpty, "citation_hyperball returned no rows at sf0.001")
    Seq(4, 8).foreach { w =>
      val got = estimates(w)
      assert(got.keySet === base.keySet, s"hyperball node set differs at cut width $w")
      val worst = base.map { case (id, b) => math.abs(got(id) - b).toDouble / b }.max
      assert(worst <= 0.016, s"hyperball estimate off by ${worst * 100}% at cut width $w")
    }
  }

  test("events_transitions: transition total equals sessionize's sum(n_events - 1)") {
    // every transition is one consecutive-within-session pair, so the
    // matrix total must equal Σ_sessions (n_events - 1) — a differential
    // assertion against the independently-oracled sessionize frame
    val d = "/root/testdata/sf0.001"
    val total = SparkEntry.queries("events_transitions")(spark, d)
      .agg(fsum(col("n_transitions"))).as[Long].head()
    val expected = EventAnalytics.sessionize(spark, d)
      .agg(fsum(col("n_events") - 1)).as[Long].head()
    assert(total === expected && total > 0)
    // shares leaving each from_type sum to ~1
    val shares = SparkEntry.queries("events_transitions")(spark, d)
      .groupBy(col("from_type")).agg(fsum(col("share")).as("s"))
      .as[(String, Double)].collect()
    assert(shares.nonEmpty && shares.forall(x => math.abs(x._2 - 1.0) < 1e-4))
  }

  test("events_paths: trigram total equals sessionize's sum(max(n_events - 2, 0))") {
    // every counted trigram is one consecutive-within-session triple, so
    // the path total must equal Σ_sessions max(n_events - 2, 0) — the
    // same differential discipline as the transitions check one order up
    val d = "/root/testdata/sf0.001"
    val total = SparkEntry.queries("events_paths")(spark, d)
      .agg(fsum(col("n_paths"))).as[Long].head()
    val expected = EventAnalytics.sessionize(spark, d)
      .agg(fsum(org.apache.spark.sql.functions.greatest(
        col("n_events") - 2, org.apache.spark.sql.functions.lit(0L))))
      .as[Long].head()
    assert(total === expected && total > 0)
    // shares following each (t1, t2) prefix sum to ~1
    val shares = SparkEntry.queries("events_paths")(spark, d)
      .groupBy(col("t1"), col("t2")).agg(fsum(col("share")).as("s"))
      .as[(String, String, Double)].collect()
    assert(shares.nonEmpty && shares.forall(x => math.abs(x._3 - 1.0) < 1e-4))
  }

  test("hits: closed-form fixture — authority concentration, multiplicity counts, L2 norms = 1") {
    // a cites c TWICE, b cites c once: c is the sole authority (auth 1),
    // and the duplicate edge makes a the stronger hub — fixpoint from
    // round 2 on: hub(a) = 2/sqrt(5), hub(b) = 1/sqrt(5).
    val edges = Seq(("a", "c"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val got = Citations.hits(edges).as[(String, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      ("a", 0.0, 0.89442719), ("b", 0.0, 0.44721360), ("c", 1.0, 0.0)))
    // L2 invariant on real (sf0.001) edges: both score vectors unit-norm
    val s = Citations.hits(
      Citations.edges(spark, "/root/testdata/sf0.001"), iterations = 3)
    val r = s.agg(fsum(col("auth") * col("auth")), fsum(col("hub") * col("hub")))
      .as[(Double, Double)].head()
    assert(math.abs(r._1 - 1.0) < 1e-6 && math.abs(r._2 - 1.0) < 1e-6)
  }

  test("citation_triangles: hand fixture — K4 + pendant edge, direction/dup/self-loop robust") {
    // K4 on {a,b,c,d} = 4 triangles; d-e adds a wedge but no triangle.
    // Degrees: a,b,c = 3; d = 4; e = 1 → wedges = 3*3 + 6 + 0 = 15;
    // clustering = 3*4/15 = 0.8. Edges arrive messy on purpose: both
    // directions, duplicates, and a self-loop must all canonicalize away.
    val edges = Seq(
      ("a", "b"), ("b", "a"),            // duplicate in both directions
      ("a", "c"), ("a", "d"),
      ("b", "c"), ("b", "d"), ("c", "d"),
      ("d", "e"),
      ("e", "e")                         // self-loop: dropped
    ).toDF("src", "dst")
    val got = Citations.citationTriangles(edges)
      .as[(Long, Long, Double)].collect()
    assert(got === Array((4L, 15L, 0.8)))
    // the empty graph: no triangles, and no wedges to divide by
    val empty = Citations.citationTriangles(edges.limit(0)).collect()
    assert(empty.length === 1)
    assert(empty(0).getLong(0) === 0L && empty(0).isNullAt(1) && empty(0).isNullAt(2))
  }

  test("citation_local_clustering: hand fixture — K4 nodes at 1.0, the bridge node at 0.5") {
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"),
      ("b", "c"), ("b", "d"), ("c", "d"),
      ("d", "e")
    ).toDF("src", "dst")
    val got = Citations.citationLocalClustering(edges)
      .as[(String, Long, Long, Double)].collect()
    // all four K4 nodes sit in 3 triangles; a,b,c see a fully-connected
    // neighborhood (coefficient 1.0), d's extra pendant edge dilutes it
    // to 2*3/(4*3) = 0.5; e is in no triangle and does not appear
    assert(got === Array(
      ("a", 3L, 3L, 1.0), ("b", 3L, 3L, 1.0), ("c", 3L, 3L, 1.0),
      ("d", 3L, 4L, 0.5)))
  }

  test("citation_triangles: brute-force twin on sf0.001 edges") {
    // independent formulation: unoriented wedge join with a < b < c id
    // ordering (correct but un-orientated — fine at sf0.001 scale)
    val u = Citations.edges(spark, sf).where(col("src") =!= col("dst"))
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
      .distinct().as[(String, String)].collect().toSet
    val nodes = u.flatMap { case (a, b) => Seq(a, b) }
    val adj = nodes.map { n =>
      n -> u.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }
    }.toMap
    val brute = u.toSeq.map { case (a, b) =>
      (adj(a) intersect adj(b)).count(c => c > b) // a < b < c exactly once
    }.sum
    val got = Citations.citationTriangles(Citations.edges(spark, sf))
      .select(col("triangles")).first().getLong(0)
    assert(got === brute.toLong, s"operator $got vs brute-force $brute")
  }

  test("tfidf: rare terms outscore common terms within a document") {
    val got = TextAnalysis.tfidfTopk(spark, sf).cache()
    assert(got.where(col("rank") === 1).count() ===
      Tables.load(spark, sf, "documents").count())
    // score formula check on one joined row: score == round(tf*N/df, 6)
    val docsN = Tables.load(spark, sf, "documents").count()
    val tok = Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "explode(split(text, ' ')) AS token")
    val tf = tok.groupBy("doc_id", "token").count().withColumnRenamed("count", "tf2")
    val dfreq = tok.groupBy("token")
      .agg(org.apache.spark.sql.functions.countDistinct("doc_id").as("df"))
    val joined = got.join(tf, Seq("doc_id", "token")).join(dfreq, Seq("token"))
      .selectExpr("score", s"round(tf2 * $docsN * 1.0 / df, 6) AS expected")
    assert(joined.where(col("score") =!= col("expected")).count() === 0)
  }

  test("co-citation self-join reuses ONE exchange for both sides") {
    val df = Citations.coCitationTopk(Citations.edges(spark, sf))
    df.collect() // materialize so AQE finalizes the physical plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"filtered-edge subtree computed twice (no ReusedExchange):\n$p")
  }

  test("pagerank: closed-form fixture — 3-cycle plus dangler, values pinned") {
    // a -> b -> c -> a cycle, plus a -> d where d cites nothing (dangler):
    // every inbox has exactly one contributor, so the driver-side replica
    // below reproduces the operator's float arithmetic EXACTLY and the
    // round(8) comparison is equality, not tolerance
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"))
      .toDF("src", "dst")
    val got = Citations.pageRank(edges, iterations = 6)
      .as[(String, Double)].collect().toMap
    val d = 0.85
    val n = 4.0
    var rank = Map("a" -> 1 / n, "b" -> 1 / n, "c" -> 1 / n, "d" -> 1 / n)
    for (_ <- 1 to 6) {
      val dm = rank("d") // dangling mass, redistributed uniformly
      val inbox = Map("b" -> rank("a") / 2, "d" -> rank("a") / 2,
        "c" -> rank("b"), "a" -> rank("c"))
      rank = rank.keys.map(k =>
        k -> ((1 - d) / n + d * (inbox.getOrElse(k, 0.0) + dm / n))).toMap
    }
    assert(got.keySet === rank.keySet)
    rank.foreach { case (k, v) =>
      val expected = BigDecimal(v)
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(k) === expected, s"node $k: got ${got(k)}, want $expected")
    }
  }

  test("pagerank: mass conserved, citations drive rank, deterministic") {
    val edges = Citations.edges(spark, sf)
    val pr = Citations.pageRank(edges, iterations = 8).cache()
    // total rank mass stays 1 (dangling redistribution keeps it exact)
    // output ranks are round(.,8) per row, so the recomputed mass can
    // drift by up to n*5e-9
    val total = pr.select(fsum(col("rank"))).first().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-4, s"rank mass $total")
    // the most-cited paper outranks the median paper
    val topCited = Citations.counts(edges)
      .orderBy(col("citations").desc).first().getString(0)
    val topRank = pr.where(col("paper_id") === topCited)
      .first().getDouble(1)
    val medianRank = pr.select(org.apache.spark.sql.functions
      .expr("percentile(rank, 0.5)")).first().getDouble(0)
    assert(topRank > medianRank)
    val again = Citations.pageRank(edges, iterations = 8)
      .collect().map(_.toString).sorted
    assert(again.toSeq === pr.collect().map(_.toString).sorted.toSeq)
  }

  test("personalized pagerank: driver replica pins values; mass concentrates at seeds") {
    // a->b->c->a cycle + a->d dangler, seedK=2: in-degrees all tie at 1,
    // so the (citations desc, id asc) tie-break picks seeds {a, b}.
    // Every inbox has one contributor, so the driver replica below
    // reproduces the float arithmetic exactly.
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"))
      .toDF("src", "dst")
    val got = Citations.personalizedPageRank(edges, seedK = 2, iterations = 6)
      .as[(String, Double)].collect().toMap
    val d = 0.85
    val s = Map("a" -> 0.5, "b" -> 0.5, "c" -> 0.0, "d" -> 0.0)
    var rank = s
    for (_ <- 1 to 6) {
      val dm = rank("d")
      val inbox = Map("b" -> rank("a") / 2, "d" -> rank("a") / 2,
        "c" -> rank("b"), "a" -> rank("c"))
      rank = rank.keys.map(k =>
        k -> ((1 - d) * s(k) + d * (inbox.getOrElse(k, 0.0) + dm * s(k)))).toMap
    }
    assert(got.keySet === rank.keySet)
    rank.foreach { case (k, v) =>
      val expected = BigDecimal(v)
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(k) === expected, s"node $k: got ${got(k)}, want $expected")
    }
    // real edges: mass stays 1 (teleport + dangling both return to seeds)
    // and the seed papers hold more rank than the median paper
    val e = Citations.edges(spark, sf)
    val ppr = Citations.personalizedPageRank(e).cache()
    val total = ppr.select(fsum(col("ppr"))).first().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-4, s"ppr mass $total")
    val seedIds = Citations.counts(e)
      .orderBy(col("citations").desc, col("paper_id").asc).limit(5)
      .select("paper_id").as[String].collect().toSet
    val median = ppr.select(org.apache.spark.sql.functions
      .expr("percentile(ppr, 0.5)")).first().getDouble(0)
    val seedRanks = ppr.where(col("paper_id").isin(seedIds.toSeq: _*))
      .select("ppr").as[Double].collect()
    assert(seedRanks.length === 5 && seedRanks.forall(_ > median))
  }

  test("profile: schema-driven, exact stats on a table with known shape") {
    val p = Profiling.profile(
      Seq((1, Some("x")), (2, None), (3, Some("x"))).toDF("id", "v"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(p("id") === ((0L, 3L, 3L)))
    assert(p("v") === ((1L, 1L, 3L)))
  }

  test("profile_orders reads the table once (single scan in plan)") {
    val plan = Profiling.profileOrders(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"expected one scan:\n$plan")
  }

  test("events_anomaly: z-scores match a local exact-integer recompute") {
    val got = EventAnalytics.eventsAnomaly(spark, sf)
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
    // local twin with the same exact-integer formulation
    val daily = got.map { case (day, t, n, _) => (day, t) -> n }.toMap
    val byType = got.groupBy(_._2)
    byType.foreach { case (_, rows) =>
      val days = rows.length.toLong
      val s1 = rows.map(_._3).sum
      val s2 = rows.map(r => r._3 * r._3).sum
      rows.foreach { case (day, t, n, z) =>
        val b = days * s2 - s1 * s1
        val expect = if (b == 0) 0.0
          else BigDecimal((n * days - s1).toDouble /
              math.sqrt(b.toDouble * days.toDouble / (days.toDouble - 1.0)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(z === expect, s"($day,$t)")
      }
      // z-scores of a complete group sum to ~0 (mean-centered)
      val zSum = rows.map(_._4).sum
      assert(math.abs(zSum) < 1e-3, s"z sum $zSum")
    }
    assert(daily.nonEmpty)
  }

  test("events_ewma: hand fixture — first row is its value, taps weight 2^-k, 8-tap truncation") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    val events = (0 until 10).map(i => (i.toLong, t(i), 7L, "click", 10.0 * (i + 1)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventAnalytics.ewmaFrom(events)
      .as[(Long, Long, java.sql.Timestamp, Double, Double)]
      .collect().sortBy(_._2).map(r => r._2 -> r._5).toMap
    // row 0: only itself
    assert(got(0L) === 10.0)
    // row 1: (20 + 0.5*10) / 1.5
    assert(math.abs(got(1L) - 25.0 / 1.5) < 1e-9)
    // row 9: exactly 8 taps (values 100..30 weighted 1..2^-7), row 0 and 1
    // truncated away — brute-force recompute
    val vals = (0 until 10).map(i => 10.0 * (i + 1))
    val taps = (0 until 8).map(k => vals(9 - k) * math.pow(0.5, k))
    val wsum = (0 until 8).map(k => math.pow(0.5, k)).sum
    assert(math.abs(got(9L) - taps.sum / wsum) < 1e-8)
    // smoothing: ewma lags the raw increasing series
    assert(got(9L) < vals(9) && got(9L) > vals(5))
  }

  test("events_ab_test: counts partition users exactly; z sign follows the rate gap") {
    val got = EventAnalytics.abTest(spark, sf)
      .as[(String, Long, Long, Long, Long, Double, Double, Option[Double])]
      .collect()
    assert(got.nonEmpty)
    val users = Tables.load(spark, sf, "events")
      .selectExpr("event_type", "user_id").distinct()
      .as[(String, Long)].collect().groupBy(_._1)
    got.foreach { case (t, na, ca, nb, cb, ra, rb, z) =>
      val (a, b) = users(t).partition(_._2 % 2 == 0)
      assert(na === a.length && nb === b.length, s"$t variant sizes")
      assert(ca <= na && cb <= nb)
      val degenerate = ca + cb == 0 || ca + cb == na + nb
      assert(z.isDefined !== degenerate, s"$t z defined iff non-degenerate")
      z.foreach { zv =>
        assert(math.signum(zv) === math.signum(ra - rb), s"$t z sign")
        // sf0.001's per-type samples are tiny; just bound the magnitude
        assert(math.abs(zv) < 10, s"$t |z|")
      }
    }
  }

  test("token_zipf: matches a local OLS recompute; slopes negative, r2 in [0,1]") {
    // the rank cap must plan as WindowGroupLimit: each partition pre-prunes
    // to its own per-lang top-200 BEFORE the exchange — without it the
    // low-cardinality lang window would drag the whole vocabulary through
    // a handful of partitions
    val plan = TextAnalysis.tokenZipf(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"rank-limit pushdown lost:\n$plan")
    val got = TextAnalysis.tokenZipf(spark, sf)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.nonEmpty)
    // brute-force twin from raw tokens, same rank rule + 12-dp term grid
    val toks = Tables.load(spark, sf, "documents")
      .selectExpr("lang", "explode(split(text, ' ')) AS w")
      .as[(String, String)].collect()
    toks.groupBy(_._1).foreach { case (lang, rows) =>
      val ranked = rows.groupBy(_._2).view.mapValues(_.length).toSeq
        .sortBy { case (w, f) => (-f, w) }.take(200).zipWithIndex
      def fix(x: Double) = BigDecimal(x)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      val terms = ranked.map { case ((_, f), i) =>
        (fix(math.log(i + 1.0)), fix(math.log(f.toDouble))) }
      val n = terms.length.toDouble
      val sx = terms.map(_._1).sum.toDouble; val sy = terms.map(_._2).sum.toDouble
      val sxx = terms.map(t => t._1 * t._1).sum.toDouble
      val sxy = terms.map(t => t._1 * t._2).sum.toDouble
      val syy = terms.map(t => t._2 * t._2).sum.toDouble
      val cov = n * sxy - sx * sy
      val varx = n * sxx - sx * sx
      val (_, gn, slope, intercept, r2) = got(lang)
      assert(gn === terms.length.toLong)
      assert(math.abs(slope - cov / varx) < 1e-5, s"$lang slope")
      assert(math.abs(intercept - (sy - (cov / varx) * sx) / n) < 1e-5)
      assert(math.abs(r2 - (cov * cov) / (varx * (n * syy - sy * sy))) < 1e-5)
      // a frequency-ranked vocabulary always slopes down, and OLS r2 is
      // a squared correlation
      assert(slope < 0, s"$lang slope $slope")
      assert(r2 >= 0 && r2 <= 1)
    }
  }

  test("events_cusum: exact ramp — recompute, returns to zero, peak at max drift") {
    val got = EventAnalytics.eventsCusum(spark, sf)
      .as[(java.sql.Timestamp, String, Long, Double, Boolean)].collect()
    assert(got.nonEmpty)
    got.groupBy(_._2).foreach { case (t, rows) =>
      val ordered = rows.sortBy(_._1.getTime)
      val days = ordered.length.toLong
      val s1 = ordered.map(_._3).sum
      // scaled integer ramp: S'_i = sum(n_j * days - s1)
      var acc = 0L
      val ramps = ordered.map { r => acc += r._3 * days - s1; acc }
      ordered.zip(ramps).foreach { case ((_, _, _, cusum, _), sc) =>
        val expect = BigDecimal(sc.toDouble / days.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(cusum === expect, s"$t cusum")
      }
      // mean-centered ramp ends at zero
      assert(ramps.last === 0L, s"$t final ramp")
      // the peak flag marks exactly the max-|S| rows
      val peak = ramps.map(math.abs).max
      ordered.zip(ramps).foreach { case ((_, _, _, _, isPeak), sc) =>
        assert(isPeak === (math.abs(sc) === peak), s"$t peak flag")
      }
    }
  }

  test("citation_counts_ivm: base-delta merge reproduces the full aggregate exactly") {
    val edges = Citations.edges(spark, sf)
    val full = Citations.counts(edges).as[(String, Long)].collect().toMap
    val ivm = Citations.countsIvm(edges).as[(String, Long)].collect().toMap
    assert(ivm === full)
    // both sides of the split are non-trivial, or the merge proved nothing
    val split = edges.selectExpr(
      "substr(md5(concat(src, '#', dst)), 1, 1) < 'e' AS base")
      .groupBy("base").count().as[(Boolean, Long)].collect().toMap
    assert(split.getOrElse(true, 0L) > 0 && split.getOrElse(false, 0L) > 0)
  }

  test("citation_bfs_paths: hand fixture — layered distances, multiplicative path counts") {
    // S is most-cited (3 feeders) so the operator seeds there; the
    // diamond S->A/B->C doubles sigma at C, carried to D
    val edges = Seq(
      ("x1", "S"), ("x2", "S"), ("x3", "S"),
      ("S", "A"), ("S", "B"), ("A", "C"), ("B", "C"), ("C", "D"),
      ("A", "C") // duplicate edge: must NOT double sigma (dedup)
    ).toDF("src", "dst")
    val got = Citations.bfsPaths(edges, hops = 4)
      .as[(String, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === Map(
      "S" -> (0, 1L), "A" -> (1, 1L), "B" -> (1, 1L),
      "C" -> (2, 2L), "D" -> (3, 2L)))
  }

  test("citation_betweenness: Brandes hand fixture — diamond dependencies, leaves at zero") {
    // seed S (3 feeders make it most-cited); diamond S->A/B->C->D.
    // Brandes from S: δ(D)=0; δ(C)=σC/σC·(1+0)=1; δ(A)=δ(B)=
    // (σA/σC)(1+δC)=(1/2)(2)=1; δ(S)=(1/1)(1+1)+(1/1)(1+1)=4.
    val edges = Seq(
      ("x1", "S"), ("x2", "S"), ("x3", "S"),
      ("S", "A"), ("S", "B"), ("A", "C"), ("B", "C"), ("C", "D"),
      ("A", "C") // duplicate: dedup keeps sigma AND delta exact
    ).toDF("src", "dst")
    val got = Citations.betweenness(edges)
      .as[(String, Int, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      "S" -> ((0, 1L, 4.0)), "A" -> ((1, 1L, 1.0)), "B" -> ((1, 1L, 1.0)),
      "C" -> ((2, 2L, 1.0)), "D" -> ((3, 2L, 0.0))))
    // on the corpus: deepest level all-zero, every δ non-negative, and
    // the seed's δ equals the dependency mass it routes
    val corpus = Citations.betweenness(Citations.edges(spark, sf))
      .as[(String, Int, Long, Double)].collect()
    assert(corpus.filter(_._2 == 4).forall(_._4 === 0.0))
    assert(corpus.forall(_._4 >= 0.0))
    assert(corpus.count(_._2 == 0) === 1)
  }

  test("citation_closeness: hand fixture + corpus differential against bfs_paths") {
    // same diamond: the top-8 seeds are ALL nodes with in-degree >= 1
    // (S,A,B,C,D); from S the reach histogram is n1=2 (A,B), n2=1 (C),
    // n3=1 (D) -> harmonic 2 + 1/2 + 1/3; from A/B: C then D; from C: D
    val edges = Seq(
      ("x1", "S"), ("x2", "S"), ("x3", "S"),
      ("S", "A"), ("S", "B"), ("A", "C"), ("B", "C"), ("C", "D"),
      ("A", "C") // duplicate edge: reach counts are set-valued (dedup)
    ).toDF("src", "dst")
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Citations.closeness(edges)
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got === Map(
      "S" -> (("S", 2L, 1L, 1L, 0L, 4L, r6(2.0 + 1.0 / 2 + 1.0 / 3))),
      "A" -> (("A", 1L, 1L, 0L, 0L, 2L, r6(1.0 + 1.0 / 2))),
      "B" -> (("B", 1L, 1L, 0L, 0L, 2L, r6(1.0 + 1.0 / 2))),
      "C" -> (("C", 1L, 0L, 0L, 0L, 1L, 1.0)))) // D reaches nothing: dropped
    // corpus differential: the top-1 seed is bfs_paths' seed, so its
    // histogram must equal bfs_paths' per-distance node counts
    val corpusEdges = Citations.edges(spark, sf)
    val bfs = Citations.bfsPaths(corpusEdges)
      .as[(String, Int, Long)].collect()
    val seed = bfs.find(_._2 == 0).get._1
    val byDist = bfs.filter(_._2 > 0).groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val row = Citations.closeness(corpusEdges)
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
      .find(_._1 == seed).get
    assert(Seq(row._2, row._3, row._4, row._5) ===
      (1 to 4).map(d => byDist.getOrElse(d, 0L)))
    assert(row._6 === row._2 + row._3 + row._4 + row._5)
  }

  test("bfs_paths, betweenness, closeness: every checkpoint taken is released or read by the result") {
    import org.apache.spark.sql.execution.LogicalRDD
    val e = Citations.edges(spark, sf)
    Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "bfsPaths" -> (Citations.bfsPaths(_)),
      "betweenness" -> (Citations.betweenness(_)),
      "closeness" -> (Citations.closeness(_))).foreach { case (name, op) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = op(e)
      val leaves = out.queryExecution.analyzed.collectLeaves()
        .collect { case l: LogicalRDD => l.rdd }
      val held = spark.sparkContext.getPersistentRDDs.keySet -- before --
        leaves.map(_.id)
      assert(held.isEmpty,
        s"$name holds checkpoints its result never reads: RDDs ${held.toSeq.sorted}")
      leaves.foreach(_.unpersist(blocking = false))
    }
  }

  test("citation_reciprocity: hand fixture — dedup, self-loop drop, exact ratio") {
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("a", "c"),
      ("a", "b"), // duplicate: m counts DISTINCT edges
      ("d", "d")  // self-loop: excluded entirely
    ).toDF("src", "dst")
    val got = Citations.reciprocity(edges)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq === Seq((3L, 2L,
      BigDecimal(2.0 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)))
    // corpus sanity: ratio in [0, 1], reciprocated bounded by m
    val c = Citations.reciprocity(Citations.edges(spark, sf))
      .as[(Long, Long, Double)].collect().head
    assert(c._1 > 0 && c._2 >= 0 && c._2 <= c._1 &&
      c._3 >= 0.0 && c._3 <= 1.0)
  }

  test("events_survival: KM curve equals an in-memory product-limit recompute") {
    val got = EventAnalytics.eventsSurvival(spark, sf)
      .as[(Int, Long, Long, Long, Double)].collect().sortBy(_._1)
    // in-memory oracle with the same grid discipline: 12-dp ln terms,
    // exact decimal accumulation, one exp + round(6)
    val raw = Tables.load(spark, sf, "events")
      .selectExpr("user_id", "CAST(ts AS DATE) AS day")
      .as[(Long, java.sql.Date)].collect()
    val end = raw.map(_._2.toLocalDate).maxBy(_.toEpochDay)
    val users = raw.groupBy(_._1).toSeq.map { case (_, rs) =>
      val days = rs.map(_._2.toLocalDate)
      val first = days.minBy(_.toEpochDay)
      val last = days.maxBy(_.toEpochDay)
      (java.time.temporal.ChronoUnit.DAYS.between(first, last).toInt,
        last.isAfter(end.minusDays(3)))
    }.toSeq
    val byDay = users.groupBy(_._1).toSeq.sortBy(_._1).map { case (life, us) =>
      (life, us.count(!_._2).toLong, us.count(_._2).toLong)
    }
    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP)
    var atRisk = users.size.toLong
    var sLog = BigDecimal(0)
    var wiped = false
    val expected = byDay.map { case (life, d, c) =>
      val nRisk = atRisk
      if (d > 0 && d < nRisk)
        sLog += r(math.log(1.0 - d.toDouble / nRisk.toDouble), 12)
      if (d >= nRisk) wiped = true
      atRisk -= d + c
      (life, nRisk, d, c,
        if (wiped) 0.0 else r(math.exp(sLog.toDouble), 6).toDouble)
    }
    assert(got.toSeq === expected)
    // structural: survival non-increasing from 1 downward; counts partition users
    assert(got.map(_._5).toSeq === got.map(_._5).sorted.reverse.toSeq)
    got.foreach { r => assert(r._5 >= 0.0 && r._5 <= 1.0) }
    assert(got.map(r => r._3 + r._4).sum === users.size.toLong)
    assert(got.head._2 === users.size.toLong)
  }

  test("token_pmi: scores equal an in-memory marginal recompute; support floor holds") {
    val got = TextAnalysis.tokenPmi(spark, sf)
      .as[(String, Int, String, String, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { r => assert(r._5 >= 5 && r._2 >= 1 && r._2 <= 20) }
    // in-memory oracle: bigram counts -> marginals -> the identical
    // (c_ab * n_b) / (c_a * c_b) double chain, ln, round(6); selection
    // re-ranked on the ROUNDED score with (w1, w2) tie-breaks
    val bigs = Tables.load(spark, sf, "documents")
      .selectExpr("lang", "split(text, ' ') AS ws")
      .as[(String, Seq[String])].collect()
      .flatMap { case (lang, ws) =>
        ws.zip(ws.drop(1)).map { case (a, b) => (lang, a, b) } }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val m1 = bigs.groupBy { case ((l, a, _), _) => (l, a) }
      .view.mapValues(_.values.sum).toMap
    val m2 = bigs.groupBy { case ((l, _, b), _) => (l, b) }
      .view.mapValues(_.values.sum).toMap
    val nb = bigs.groupBy { case ((l, _, _), _) => l }
      .view.mapValues(_.values.sum).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = bigs.collect { case ((l, a, b), cab) if cab >= 5 =>
      (l, a, b, cab, r6(math.log((cab.toDouble * nb(l).toDouble) /
        (m1((l, a)).toDouble * m2((l, b)).toDouble))))
    }.toSeq.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      rs.sortBy { case (_, a, b, _, pmi) => (-pmi, a, b) }.take(20)
        .zipWithIndex.map { case ((l, a, b, cab, pmi), i) =>
          (l, i + 1, a, b, cab, pmi) }
    }.sortBy(r => (r._1, r._2))
    assert(got.sortBy(r => (r._1, r._2)).toSeq === expected)
  }

  test("events_heatmap: cells partition the stream; shares sum to 1 per type; 0=Sunday") {
    val got = EventAnalytics.eventsHeatmap(spark, sf)
      .as[(Int, Int, String, Long, Double)].collect()
    assert(got.map(_._4).sum === Tables.load(spark, sf, "events").count())
    got.foreach { case (dow, hour, _, n, share) =>
      assert(dow >= 0 && dow <= 6 && hour >= 0 && hour <= 23 && n > 0)
      assert(share > 0 && share <= 1)
    }
    got.groupBy(_._3).foreach { case (t, cells) =>
      assert(math.abs(cells.map(_._5).sum - 1.0) < 1e-3, s"$t shares")
    }
    // the 0=Sunday convention: a known date pins the mapping
    // (2024-01-01 was a Monday -> dow 1)
    val probe = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
      7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dow = probe.selectExpr("dayofweek(ts) - 1").as[Int].first()
    assert(dow === 1)
  }

  test("events_stickiness: trailing-7-day distinct recompute; DAU <= WAU") {
    val activity = Tables.load(spark, sf, "events")
      .selectExpr("date_trunc('day', ts) AS day", "user_id")
      .distinct().as[(java.sql.Timestamp, Long)].collect()
    val byDay = activity.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val dayMs = 86400000L
    val got = EventAnalytics.eventsStickiness(spark, sf)
      .as[(java.sql.Timestamp, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    // the wau domain includes every day reachable from activity (+6)
    assert(got.length >= byDay.size)
    got.foreach { case (day, dau, wau, stick) =>
      val expectedDau = byDay.get(day).map(_.size.toLong).getOrElse(0L)
      val expectedWau = (0 to 6).flatMap { k =>
        byDay.getOrElse(new java.sql.Timestamp(day.getTime - k * dayMs),
          Set.empty[Long])
      }.toSet.size.toLong
      assert(dau === expectedDau, s"$day dau")
      assert(wau === expectedWau, s"$day wau")
      assert(dau <= wau && wau > 0)
      val expStick = BigDecimal(dau * 1.0 / wau)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(stick === expStick, s"$day stickiness")
    }
  }

  test("events_seasonal_decompose: additive identity + centered seasonal + full in-memory MA recompute") {
    val got = EventAnalytics.eventsSeasonalDecompose(spark, sf)
      .as[(String, Int, Long, Option[Long], Long, Option[Long])].collect()
    assert(got.nonEmpty, "sf0.001 span is 30 days - the 14-day gate must pass")
    // additivity: trend + seasonal + residual == y * 1e6 wherever trend exists
    got.foreach { case (t, day, y, tr, se, re) =>
      assert(tr.isDefined === re.isDefined, s"($t,$day) trend/residual null parity")
      tr.foreach(trv => assert(trv + se + re.get === y * 1000000L, s"($t,$day)"))
    }
    // full integer recompute: dense grid, centered 7-day MA, floored
    // per-dow means, centered seasonal - the operator's exact definition
    val raw = Tables.load(spark, sf, "events")
      .selectExpr("event_type",
        "datediff(date_trunc('day', ts), DATE '1970-01-01') AS day")
      .as[(String, Int)].collect()
    val cnt = raw.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val dmin = raw.map(_._2).min
    val dmax = raw.map(_._2).max
    val types = raw.map(_._1).distinct.sorted
    def fdiv(a: Long, b: Long): Long =
      { val q = a / b; if (a % b != 0 && (a ^ b) < 0) q - 1 else q }
    val y = (for { t <- types; d <- dmin to dmax }
      yield (t, d) -> cnt.getOrElse((t, d), 0L)).toMap
    val trend = (for { t <- types; d <- (dmin + 3) to (dmax - 3) }
      yield (t, d) -> fdiv((d - 3 to d + 3).map(dd => y((t, dd))).sum * 1000000L, 7L)).toMap
    def dow(d: Int): Int = (((d + 4) % 7) + 7) % 7
    val sraw = (for (t <- types; w <- 0 until 7) yield {
      val dets = ((dmin + 3) to (dmax - 3)).filter(d => dow(d) == w)
        .map(d => y((t, d)) * 1000000L - trend((t, d)))
      (t, w) -> fdiv(dets.sum, dets.length.toLong)
    }).toMap
    val seasonal = (for (t <- types; w <- 0 until 7) yield {
      val adj = fdiv((0 until 7).map(x => sraw((t, x))).sum, 7L)
      (t, w) -> (sraw((t, w)) - adj)
    }).toMap
    assert(got.length === types.size * (dmax - dmin + 1))
    got.foreach { case (t, d, yv, tr, se, _) =>
      assert(yv === y((t, d)), s"y($t,$d)")
      assert(tr === trend.get((t, d)), s"trend($t,$d)")
      assert(se === seasonal((t, dow(d))), s"seasonal($t,$d)")
    }
  }

  test("events_autocorr: n2-scaled integer ACF recompute; r0 = 1") {
    val got = EventAnalytics.eventsAutocorr(spark, sf)
      .as[(String, Int, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val raw = Tables.load(spark, sf, "events")
      .selectExpr("event_type",
        "datediff(date_trunc('day', ts), DATE '1970-01-01') AS day")
      .as[(String, Int)].collect()
    val cnt = raw.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val dmin = raw.map(_._2).min
    val dmax = raw.map(_._2).max
    val types = raw.map(_._1).distinct.sorted
    val n = BigInt(dmax - dmin + 1)
    types.foreach { t =>
      val ys = (dmin to dmax).map(dd => BigInt(cnt.getOrElse((t, dd), 0L)))
      val s0 = ys.sum
      val dev = ys.map(y => n * y - s0)
      val num0 = dev.map(x => x * x).sum
      for (k <- 0 to 14) {
        val numk = (0 until dev.length - k).map(i => dev(i) * dev(i + k)).sum
        val exp =
          if (num0 > 0 && dev.length > k)
            Some(BigDecimal(numk.toDouble / num0.toDouble)
              .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
          else None
        assert(got((t, k)) === exp, s"r($t, $k)")
      }
      assert(got((t, 0)) === Some(1.0), s"r0($t)")
    }
    assert(got.size === types.size * 15)
  }

  test("events_pacf: exact-integer Durbin-Levinson recompute; lag-1 equals floored ACF") {
    val got = EventAnalytics.eventsPacf(spark, sf)
      .as[(String, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val raw = Tables.load(spark, sf, "events")
      .selectExpr("event_type",
        "datediff(date_trunc('day', ts), DATE '1970-01-01') AS day")
      .as[(String, Int)].collect()
    val cnt = raw.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val dmin = raw.map(_._2).min
    val dmax = raw.map(_._2).max
    val types = raw.map(_._1).distinct.sorted
    val n = BigInt(dmax - dmin + 1)
    val SCALE = BigInt(1000000)
    def fdiv(a: BigInt, b: BigInt): BigInt = (a - a.mod(b)) / b
    var covered = 0
    types.foreach { t =>
      val ys = (dmin to dmax).map(dd => BigInt(cnt.getOrElse((t, dd), 0L)))
      val s0 = ys.sum
      val dev = ys.map(y => n * y - s0)
      val num0 = dev.map(x => x * x).sum
      if (num0 > 0) {
        val r = (1 to 14).map { k =>
          val numk = (0 until dev.length - k).map(i => dev(i) * dev(i + k)).sum
          fdiv(SCALE * numk, num0)
        }
        val phi = Array.fill[BigInt](15, 15)(BigInt(0))
        phi(1)(1) = r(0)
        assert(got((t, 1)) === r(0).toLong, s"phi_11($t) != floored r1")
        for (k <- 2 to 14) {
          val nm = SCALE * r(k - 1) -
            (1 until k).map(j => phi(k - 1)(j) * r(k - j - 1)).sum
          val dn = SCALE * SCALE -
            (1 until k).map(j => phi(k - 1)(j) * r(j - 1)).sum
          val p = if (dn > 0) fdiv(nm * SCALE, dn) else BigInt(0)
          phi(k)(k) = p
          for (j <- 1 until k)
            phi(k)(j) = phi(k - 1)(j) - fdiv(p * phi(k - 1)(k - j), SCALE)
          assert(got((t, k)) === p.toLong, s"phi($t, $k)")
          covered += 1
        }
      }
    }
    assert(got.size === types.count { t =>
      val ys = (dmin to dmax).map(dd => BigInt(cnt.getOrElse((t, dd), 0L)))
      val s0 = ys.sum
      ys.map(y => n * y - s0).map(x => x * x).sum > 0
    } * 14)
    assert(covered > 0, "no type exercised the DL recursion")
    // a partial correlation is a correlation: |phi| stays in micro range
    got.values.foreach(v => assert(math.abs(v) <= 1100000L, s"|phi|=$v"))
    // empty-input guard: zero rows, no throw (the eventsHolt advice class)
    val empty = EventAnalytics.eventsPacfFrom(spark,
      Tables.load(spark, sf, "events").where(lit(false)))
    assert(empty.count() === 0)
  }

  test("citation_louvain: synchronous modularity-gain recompute matches exactly; stats tie out") {
    val edges = Citations.edges(spark, sf)
    val got = Citations.louvain(edges).as[(String, String)].collect().toMap
    // in-memory twin of the exact-integer LPAm sweep
    val e = edges.as[(String, String)].collect()
    val und = e.filter(p => p._1 != p._2)
      .flatMap(p => Seq((p._1, p._2), (p._2, p._1))).distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val w = BigInt(und.length)
    var lab: Map[String, String] = deg.keys.map(k => k -> k).toMap
    for (_ <- 1 to 4) {
      val tot: Map[String, BigInt] = lab.toSeq.groupBy(_._2).view
        .mapValues(_.map(x => BigInt(deg(x._1))).sum).toMap
      lab = lab.map { case (i, own) =>
        val k = adj(i).groupBy(lab).view.mapValues(_.size).toMap
        val best = (k.keySet + own).toSeq.map { c =>
          val totx = tot(c) - (if (c == own) BigInt(deg(i)) else BigInt(0))
          (w * BigInt(k.getOrElse(c, 0)) - BigInt(deg(i)) * totx, c)
        }.reduce { (a, b) =>
          if (a._1 > b._1 || (a._1 == b._1 && a._2 <= b._2)) a else b
        }
        i -> best._2
      }
    }
    assert(got === lab)
    assert(got.values.toSet.size > 1, "louvain collapsed to one community")
    // stats frame ties out against the same labels
    val st = Citations.louvainStats(edges).as[(String, Long, Long, Long)].collect()
    assert(st.map(_._2).sum === got.size, "sum n_nodes = |V|")
    assert(st.map(_._4).sum === und.length.toLong, "sum tot_deg = 2m")
    assert(st.map(_._3).sum === und.count(p => got(p._1) == got(p._2)).toLong / 2,
      "sum in_edges = inside-community undirected edges")
    st.foreach { case (c, n, in, td) =>
      assert(in <= n * (n - 1) / 2, s"community $c overfull")
      assert(td >= 2 * in, s"community $c degree mass < inside edges")
    }
  }

  test("citation_louvain_ml: coarsened re-sweep refines the partition; modularity never drops") {
    // exact modularity numerator on the direction-doubled frame:
    // Q·W² = Σ_c (2·W·in_c − tot_c²) — all-integer, no float compare
    def qw2(und: Seq[(String, String)], lab: Map[String, String]): BigInt = {
      val deg = und.groupBy(_._1).view.mapValues(v => BigInt(v.size)).toMap
      val w = BigInt(und.size)
      val in2 = und.count(p => lab(p._1) == lab(p._2)) // both directions
      val byC = lab.toSeq.groupBy(_._2).view
        .mapValues(_.map(x => deg(x._1)).sum).toMap
      val inByC = und.filter(p => lab(p._1) == lab(p._2))
        .groupBy(p => lab(p._1)).view.mapValues(v => BigInt(v.size)).toMap
      require(inByC.values.sum == BigInt(in2))
      lab.values.toSet.toSeq.map { c: String =>
        w * inByC.getOrElse(c, BigInt(0)) - byC(c) * byC(c)
      }.foldLeft(BigInt(0))(_ + _) // 2·W·in_c, in_c = rows/2 ⇒ W·rows_c
    }
    def undOf(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      df.as[(String, String)].collect().filter(p => p._1 != p._2)
        .flatMap(p => Seq((p._1, p._2), (p._2, p._1))).distinct.toSeq

    // fixture: a 24-cycle. Node-granular one-level moves fragment it
    // into small arcs; the coarsened sweep merges whole arcs — the
    // level where the classic algorithm earns its modularity.
    val cyc = (0 until 24).map(i => (i.toString, ((i + 1) % 24).toString))
      .toDF("src", "dst")
    val und = undOf(cyc)
    val l1 = Citations.louvain(cyc).as[(String, String)].collect().toMap
    val ml = Citations.louvainMl(cyc).as[(String, String)].collect().toMap
    assert(ml.keySet === l1.keySet)
    // the ml partition COARSENS level 1: each l1 community lands whole
    // inside one ml community (composition is well-defined)
    l1.toSeq.groupBy(_._2).foreach { case (c1, members) =>
      val targets = members.map(m => ml(m._1)).toSet
      assert(targets.size === 1, s"l1 community $c1 split across $targets")
    }
    assert(qw2(und, ml) >= qw2(und, l1),
      s"coarsened sweep lost modularity: ${qw2(und, ml)} < ${qw2(und, l1)}")
    assert(ml.values.toSet.size < l1.values.toSet.size,
      "cycle fixture: level 2 must actually merge fragments")

    // real corpus: same composition + no-loss invariants
    val edges = Citations.edges(spark, sf)
    val undE = undOf(edges)
    val l1E = Citations.louvainLabelsCached(spark, sf)
      .as[(String, String)].collect().toMap
    val mlE = Citations.louvainMlFrom(edges,
      Citations.louvainLabelsCached(spark, sf))
      .as[(String, String)].collect().toMap
    l1E.toSeq.groupBy(_._2).foreach { case (c1, members) =>
      assert(members.map(m => mlE(m._1)).toSet.size === 1)
    }
    assert(qw2(undE, mlE) >= qw2(undE, l1E),
      "sf0.001: multi-level modularity below one-level")
  }

  test("citation_random_walks: LCG stepping recompute matches every path; sinks truncate") {
    val edges = Citations.edges(spark, sf)
    val got = Citations.randomWalks(edges).as[(String, Int, Int, String)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val e = edges.as[(String, String)].collect()
      .filter(p => p._1 != p._2).distinct
    val nbs = e.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted.toVector).toMap
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val exp = (for { n <- nodes; w <- 0 until 2 } yield {
      var cur = n
      val path = scala.collection.mutable.ArrayBuffer(n)
      var t = 1
      var alive = true
      while (t <= 4 && alive) nbs.get(cur) match {
        case Some(ns) =>
          val m = ns.length.toLong
          val idx = ((w * 1000003L + t * 7919L + cur.toLong * 31L) % m + m) % m
          cur = ns(idx.toInt); path += cur; t += 1
        case None => alive = false
      }
      (n, w) -> ((path.length - 1, path.mkString("->")))
    }).toMap
    assert(got.size === exp.size)
    assert(got === exp)
    // some walk must truncate early OR all run full length - and at least
    // one full-length walk exists (the corpus has hubs with out-edges)
    assert(got.values.exists(_._1 == 4), "no walk reached full length")
  }

  test("citation_node2vec: second-order bias recompute matches every path; bias is not a no-op") {
    val edges = Citations.edges(spark, sf)
    val got = Citations.node2vecWalks(edges).as[(String, Int, Int, String)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val e = edges.as[(String, String)].collect()
      .filter(p => p._1 != p._2).distinct
    val nbs = e.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted.toVector).toMap
    val adjSet = e.toSet
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val exp = (for { n <- nodes; w <- 0 until 2 } yield {
      var prev = n
      var cur = n
      val path = scala.collection.mutable.ArrayBuffer(n)
      var alive = nbs.contains(cur)
      if (alive) { // step 1: uniform, the randomWalks rule
        val ns = nbs(cur)
        val m = ns.length.toLong
        val idx = ((w * 1000003L + 7919L + cur.toLong * 31L) % m + m) % m
        prev = cur; cur = ns(idx.toInt); path += cur
      }
      var t = 2
      while (t <= 4 && alive) nbs.get(cur) match {
        case Some(ns) =>
          // α(prev, x) scaled to integers: return 1, triangle 2, out 4
          val ws = ns.map(x =>
            if (x == prev) 1L else if (adjSet((prev, x))) 2L else 4L)
          val tot = ws.sum
          val r = ((w * 1000003L + t * 7919L + cur.toLong * 31L) % tot
            + tot) % tot
          var acc = 0L
          var pick = -1
          for (i <- ns.indices if pick < 0) {
            acc += ws(i); if (r < acc) pick = i
          }
          prev = cur; cur = ns(pick); path += cur; t += 1
        case None => alive = false
      }
      (n, w) -> ((path.length - 1, path.mkString("->")))
    }).toMap
    assert(got.size === exp.size)
    assert(got === exp)
    assert(got.values.exists(_._1 == 4), "no walk reached full length")
    // the p/q bias must genuinely diverge from the first-order corpus
    val rw = Citations.randomWalks(edges).as[(String, Int, Int, String)]
      .collect().map(r => (r._1, r._2) -> r._4).toMap
    assert(exp.exists { case (k, (_, p)) => rw(k) != p },
      "node2vec bias is a no-op on the fixture corpus")
  }

  test("citation_lpa: plurality fixture with tie-break; deterministic across repartition") {
    // star around hub H: leaves adopt H's plurality-of-one label... round 1:
    // every leaf's only neighbor is H (label H), H sees 4 leaf labels all
    // distinct -> tie broken to min label L1. Hand-checkable in 2 rounds.
    val edges = Seq(("H", "L1"), ("H", "L2"), ("H", "L3"), ("H", "L4"))
      .toDF("src", "dst")
    val got = Citations.lpa(edges, rounds = 2)
      .as[(String, String)].collect().toMap
    // round 1: leaves -> H, hub -> L1 (min among {L1..L4}, all count 1)
    // round 2: leaves' neighbor H now holds L1 -> leaves adopt L1;
    //          H's neighbors all hold H -> H adopts H... wait, leaves held
    //          H after round 1, so H sees {H,H,H,H} -> H. Final:
    //          leaves = L1? no — leaves see H's round-1 label L1 -> L1.
    assert(got("L1") === "L1" && got("L2") === "L1" &&
      got("L3") === "L1" && got("L4") === "L1")
    assert(got("H") === "H")
    // plurality beats smaller-but-rarer labels: node X with neighbors
    // {A, A, B} (B < A) must take A (count 2 > 1)
    val e2 = Seq(("X", "A1"), ("X", "A2"), ("X", "B")).toDF("src", "dst")
      .union(Seq(("A1", "A0"), ("A2", "A0")).toDF("src", "dst"))
    // X's neighbors after round 1: A1, A2 hold min(X, A0) = A0; B holds X.
    // Round 2: X sees {A0: 2, X: 1} -> A0 by plurality (not B, not X).
    val g2 = Citations.lpa(e2, rounds = 2).as[(String, String)].collect().toMap
    assert(g2("X") === "A0")
    // determinism: same labels regardless of input partitioning
    val sfEdges = Citations.edges(spark, sf)
    val a = Citations.lpa(sfEdges, rounds = 2).as[(String, String)]
      .collect().sortBy(_._1).toSeq
    val b = Citations.lpa(sfEdges.repartition(13), rounds = 2)
      .as[(String, String)].collect().sortBy(_._1).toSeq
    assert(a === b)
    // labels are node ids; more than one community survives
    val nodes = a.map(_._1).toSet
    assert(a.forall(r => nodes.contains(r._2)))
    assert(a.map(_._2).distinct.size > 1)
  }

  test("profile_ks: exact cross-multiplied KS recompute; hand fixture; degenerate guard") {
    // corpus recompute at sf0.001 with the same integer arithmetic
    val got = Profiling.profileKs(spark, sf)
      .as[(String, Long, Long, Option[Long], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5)))
      .toMap
    val raw = Tables.load(spark, sf, "events")
      .selectExpr("event_type", "CAST(floor(value * 100.0) AS BIGINT) AS b")
      .as[(String, Long)].collect()
    val types = raw.map(_._1).distinct.sorted
    val binsAll = raw.map(_._2).distinct.sorted
    val cnt = raw.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nAll = raw.length.toLong
    types.foreach { t =>
      val nT = raw.count(_._1 == t).toLong
      val nRest = nAll - nT
      var cumT = 0L; var cumAll = 0L; var best = BigInt(0)
      binsAll.foreach { b =>
        cumT += cnt.getOrElse((t, b), 0L)
        cumAll += types.map(t2 => cnt.getOrElse((t2, b), 0L)).sum
        val term = (BigInt(cumT) * nRest - BigInt(cumAll - cumT) * nT).abs
        if (term > best) best = term
      }
      val (gN, gR, gD, gd) = got(t)
      assert(gN === nT && gR === nRest, s"totals for $t")
      val expPpm = (best * 1000000 / (BigInt(nT) * nRest)).toLong
      assert(gD === Some(expPpm), s"d_ppm($t): got $gD expected $expPpm")
      val expD = BigDecimal(best.toDouble / (nT.toDouble * nRest.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(gd.exists(v => math.abs(v - expD) < 1e-9), s"d($t)")
    }
    assert(got.size === types.size)
    // hand fixture with BINARY-EXACT values (a cent like 0.03 floors to
    // bin 2 through the double grid — deliberate, engine-identical, but
    // hostile to hand arithmetic): A = {0.25, 0.5, 1.0} -> bins
    // {25, 50, 100}, B = {1.0, 1.25, 1.5, 2.0} -> {100, 125, 150, 200}.
    // The sup lands at bin 100: F_A = 1, F_B = 1/4 -> D = 3/4; scaled
    // D = |cumA * nB - cumB * nA| = |3*4 - 1*3| = 9 (bin 50 gives 8,
    // every later bin less) — symmetric for B by construction
    val fix = Seq(("A", 0.25), ("A", 0.5), ("A", 1.0),
      ("B", 1.0), ("B", 1.25), ("B", 1.5), ("B", 2.0))
      .toDF("event_type", "value")
    val gf = Profiling.profileKsFrom(fix)
      .as[(String, Long, Long, Option[Long], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    // D = 9/12 = 0.75 -> 750000 ppm exactly
    assert(gf("A")._4 === Some(750000L) && gf("B")._4 === Some(750000L))
    assert(gf("A")._5.exists(v => math.abs(v - 0.75) < 1e-6))
    // degenerate single-type corpus: n_rest = 0, d NULL, no throw
    val one = Profiling.profileKsFrom(
      Seq(("A", 0.5), ("A", 0.7)).toDF("event_type", "value"))
      .as[(String, Long, Long, Option[Long], Option[Double])].collect()
    assert(one.length === 1 && one.head._3 === 0L &&
      one.head._4.isEmpty && one.head._5.isEmpty)
  }

  test("citation_rich_club: exact histogram recompute; monotone counts; hand fixture") {
    val got = Citations.richClub(Citations.edges(spark, sf))
      .as[(Long, Long, Long, Option[Long], Option[Double])].collect()
      .sortBy(_._1)
    // in-memory recompute from the deduplicated undirected frame
    val und = Citations.edges(spark, sf)
      .where(col("src") =!= col("dst"))
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
      .distinct().as[(String, String)].collect().toSet
    val deg = (und.toSeq.map(_._1) ++ und.toSeq.map(_._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ks = deg.values.toSeq.distinct.sorted
    assert(got.map(_._1).toSeq === ks)
    got.foreach { case (k, eK, nK, ppm, phi) =>
      val expN = deg.values.count(_ > k).toLong
      val expE = und.count { case (a, b) => deg(a) > k && deg(b) > k }.toLong
      assert(nK === expN && eK === expE, s"k=$k counts")
      if (expN >= 2) {
        assert(ppm === Some(BigInt(expE) * 2000000 / (BigInt(expN) * (expN - 1))))
        val expPhi = BigDecimal(2.0 * expE / (expN.toDouble * (expN - 1).toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(phi.exists(v => math.abs(v - expPhi) < 1e-9), s"phi(k=$k)")
      } else assert(ppm.isEmpty && phi.isEmpty, s"k=$k degenerate")
    }
    // E_k and N_k are non-increasing in k by construction
    got.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._2 >= hi._2 && lo._3 >= hi._3, s"counts rose ${lo._1}->${hi._1}")
      case _ => ()
    }
    // hand fixture: triangle {A,B,C} (deg 2 each) + pendant D on A
    // (degA=3, degD=1). k=1: club {A,B,C}, 3 inner edges -> phi = 1.
    // k=2: club {A}, degenerate. k=3: empty.
    val fix = Seq(("A", "B"), ("B", "C"), ("C", "A"), ("A", "D"))
      .toDF("src", "dst")
    val gf = Citations.richClub(fix)
      .as[(Long, Long, Long, Option[Long], Option[Double])].collect()
      .sortBy(_._1).toSeq
    assert(gf === Seq(
      (1L, 3L, 3L, Some(1000000L), Some(1.0)),
      (2L, 0L, 1L, None, None),
      (3L, 0L, 0L, None, None)))
  }

  test("citation_knn_degree: exact class-ratio recompute; star fixture") {
    val got = Citations.knnDegree(Citations.edges(spark, sf))
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    val und = Citations.edges(spark, sf)
      .where(col("src") =!= col("dst"))
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
      .distinct().as[(String, String)].collect().toSet
    val nb = (und.toSeq ++ und.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = nb.view.mapValues(_.size.toLong).toMap
    val exp = deg.groupBy(_._2).map { case (k, nodes) =>
      // keys is a SET — map through toSeq or equal per-node sums collapse
      val sK = nodes.keys.toSeq.map(v => nb(v).map(deg).sum).sum
      k -> ((nodes.size.toLong, sK))
    }
    assert(got.map(_._1).toSet === exp.keySet)
    got.foreach { case (k, nK, sK, ppm, knn) =>
      val (eN, eS) = exp(k)
      assert(nK === eN && sK === eS, s"k=$k counts")
      assert(ppm === BigInt(eS) * 1000000 / (BigInt(k) * eN), s"k=$k ppm")
      val e = BigDecimal(eS.toDouble / (k.toDouble * eN.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(knn - e) < 1e-9, s"k=$k knn")
    }
    // star fixture: hub H with 4 leaves — leaves (k=1) see only the hub
    // (knn = 4), the hub (k=4) sees only leaves (knn = 1)
    val fix = Seq(("H", "L1"), ("H", "L2"), ("H", "L3"), ("H", "L4"))
      .toDF("src", "dst")
    val gf = Citations.knnDegree(fix)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(gf === Seq((1L, 4L, 16L, 4000000L, 4.0),
      (4L, 1L, 4L, 1000000L, 1.0)))
  }

  test("citation_mis: independence + maximality + exactly-once; deterministic across repartition") {
    // hand fixture: path A-B-C-D plus isolated-by-self-loop E.
    // Round-1 keys depend only on id mod 99991 so small numeric ids give
    // hand-checkable priorities: h1(id) = (id*40503 + 7919) % 99991.
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("5", "5"))
      .toDF("src", "dst")
    val got = Citations.mis(edges).as[(String, Boolean, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // every non-self-loop endpoint decided exactly once; self-loop-only
    // node 5 never enters the universe (adjacent to itself, never
    // independent, never anyone's neighbor)
    assert(got.keySet === Set("1", "2", "3", "4"))
    val und = Set(("1", "2"), ("2", "3"), ("3", "4"))
    // independence: no edge with both endpoints in the set
    und.foreach { case (a, b) =>
      assert(!(got(a)._1 && got(b)._1), s"adjacent pair $a-$b both in MIS")
    }
    // maximality: every OUT node has an IN neighbor
    got.filterNot(_._2._1).keys.foreach { v =>
      val nbs = und.collect { case (a, b) if a == v => b
                              case (a, b) if b == v => a }
      assert(nbs.exists(got(_)._1), s"OUT node $v has no IN neighbor")
    }
    // corpus invariants at sf0.001 + determinism across input partitioning
    val sfEdges = Citations.edges(spark, sf)
    val a = Citations.mis(sfEdges).as[(String, Boolean, Int)].collect()
    val b = Citations.mis(sfEdges.repartition(13))
      .as[(String, Boolean, Int)].collect()
    assert(a.sortBy(_._1).toSeq === b.sortBy(_._1).toSeq)
    val inSet = a.filter(_._2).map(_._1).toSet
    val undSf = sfEdges.where(col("src") =!= col("dst"))
      .as[(String, String)].collect().toSet
    assert(a.map(_._1).distinct.length === a.length, "a node decided twice")
    undSf.foreach { case (s2, d2) =>
      assert(!(inSet(s2) && inSet(d2)), s"adjacent $s2-$d2 both in MIS")
    }
    val nbMap = (undSf.toSeq ++ undSf.toSeq.map(e2 => (e2._2, e2._1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    a.filterNot(_._2).foreach { case (v, _, _) =>
      assert(nbMap(v).exists(inSet), s"OUT node $v not dominated")
    }
    assert(inSet.nonEmpty && inSet.size < a.length,
      "degenerate MIS (empty or everything)")
    // convergence margin: the 12-round cap is probe-sized — the sf0.001
    // sweep must finish well inside it
    assert(a.map(_._3).max <= 6, s"late convergence: round ${a.map(_._3).max}")
  }

  test("scd2Merge: hand fixture — close, insert, suppress no-op, new user, pass-through") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // dim: u1 has A[t0,t1) then open B[t1,·); u2 has open C[t0,·)
    val dim = Seq(
      (1L, "A", t(0), Option(t(1)), 1, 0),
      (1L, "B", t(1), None: Option[java.sql.Timestamp], 2, 1),
      (2L, "C", t(0), None: Option[java.sql.Timestamp], 1, 1))
      .toDF("user_id", "state", "valid_from", "valid_to", "version", "is_current")
    // batch: u1 gets a no-op B (suppressed) then C; u3 is brand new with
    // a duplicate-state run (X, X collapse) then Y; u2 has no rows
    val batch = Seq(
      (1L, "B", t(2), 10L), (1L, "C", t(3), 11L),
      (3L, "X", t(4), 12L), (3L, "X", t(5), 13L), (3L, "Y", t(6), 14L))
      .toDF("user_id", "state", "ts", "event_id")
    val got = EventAnalytics.scd2Merge(dim, batch)
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Int, Int)]
      .collect().toSet
    assert(got === Set(
      (1L, "A", t(0), Some(t(1)), 1, 0),
      (1L, "B", t(1), Some(t(3)), 2, 0), // closed at the surviving C run
      (1L, "C", t(3), None, 3, 1),
      (2L, "C", t(0), None, 1, 1), // untouched pass-through
      (3L, "X", t(4), Some(t(6)), 1, 0), // duplicate X collapsed to one run
      (3L, "Y", t(6), None, 2, 1)))
  }

  test("scd2Merge: replay-idempotent, and the merge law holds on sf0.001") {
    import org.apache.spark.sql.functions.{broadcast, expr, max => fmax}
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type").as("state"), col("ts"),
        col("event_id"))
    val cut = broadcast(ev.agg(fmax(col("ts")).as("mx"))
      .select((col("mx") - expr("INTERVAL 7 DAYS")).as("c")))
    val pre = ev.crossJoin(cut).where(col("ts") <= col("c"))
      .select(col("user_id"), col("state"), col("ts"), col("event_id"))
    val post = ev.crossJoin(cut).where(col("ts") > col("c"))
      .select(col("user_id"), col("state"), col("ts"), col("event_id"))
    def rows(df: org.apache.spark.sql.DataFrame)
        : Set[(Long, String, java.sql.Timestamp,
               Option[java.sql.Timestamp], Int, Int)] =
      df.as[(Long, String, java.sql.Timestamp,
             Option[java.sql.Timestamp], Int, Int)].collect().toSet
    val once = EventAnalytics.scd2Merge(EventAnalytics.scd2Derive(pre), post)
    val onceRows = rows(once)
    // merge law: equals the from-scratch derivation over the whole stream
    assert(onceRows === rows(EventAnalytics.scd2Derive(ev)))
    // replay: applying the same batch to the merged result is a no-op
    assert(rows(EventAnalytics.scd2Merge(once, post)) === onceRows)
    // sanity: the batch actually inserted versions (the law isn't vacuous)
    assert(rows(EventAnalytics.scd2Derive(pre)) !== onceRows)
  }

  test("events_concurrency: bucket join equals the brute-force overlap count") {
    val sessions = EventAnalytics.sessionize(spark, sf)
      .selectExpr("user_id", "session_start", "session_end")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp)].collect()
    val expect = sessions.map { case (u, s, _) =>
      (u, s, sessions.count { case (_, ts, te) =>
        !ts.after(s) && s.before(te) }.toLong)
    }.toSet
    val got = EventAnalytics.eventsConcurrency(spark, sf)
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    assert(got === expect)
    // every session overlaps itself, so counts are >= 1 and the operator
    // emits one row per session (the bucket join neither drops nor dupes)
    assert(got.size === sessions.length)
    assert(got.forall(_._3 >= 1L))
    // the fixture actually exercises cross-session overlap
    assert(got.exists(_._3 > 1L), "no overlapping sessions in fixture")
  }

  test("events_concurrency: sub-second session_end past an hour boundary still meets") {
    // Regression (r12 advice): unix_timestamp TRUNCATES fractional
    // seconds, so the old `(unix(t_end)-1) div 3600` build bound put a
    // session ending at 01:00:00.5 entirely in bucket 0, missing the
    // overlap with a session starting at 01:00:00.2 (bucket 1). The
    // inclusive bucket(t_end) bound must count it.
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      // user 1: one session, start 00:10:00.0, end = last + 30min = 01:00:00.5
      (1L, ts("2024-01-01 00:10:00.0"), 1.0),
      (1L, ts("2024-01-01 00:30:00.5"), 1.0),
      // user 2: single event → session [01:00:00.2, 01:30:00.2)
      (2L, ts("2024-01-01 01:00:00.2"), 1.0)
    ).toDF("user_id", "ts", "value")
    val got = EventAnalytics.eventsConcurrencyFrom(events)
      .as[(Long, Timestamp, Long)].collect()
      .map { case (u, s, n) => (u, s) -> n }.toMap
    // sanity: sessionization produced exactly the two sessions described
    assert(got.size === 2)
    // user 2's start instant 01:00:00.2 < user 1's end 01:00:00.5 → both active
    assert(got((2L, ts("2024-01-01 01:00:00.2"))) === 2L)
    assert(got((1L, ts("2024-01-01 00:10:00.0"))) === 1L)
  }

  test("quality_kneser_ney: brute-force interpolated-KN recompute at sf0.001") {
    val docs = Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      .as[(Long, Seq[String])].collect()
    val docBigrams = docs.map { case (id, ws) =>
      id -> ws.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))).toSeq
    }.filter(_._2.nonEmpty)
    val cvw = docBigrams.flatMap(_._2).groupBy(identity).map { case (b, xs) =>
      b -> xs.length.toLong }
    val cv = cvw.groupBy(_._1._1).map { case (v, m) => v -> m.values.sum }
    val n1f = cvw.groupBy(_._1._1).map { case (v, m) => v -> m.size.toLong }
    val n1b = cvw.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
    val n1t = cvw.size.toDouble
    def r(x: Double, s: Int): BigDecimal =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP)
    val logp = cvw.map { case (bg @ (v, w), c) =>
      val p = (math.max(c.toDouble - 0.75, 0.0) +
        (0.75 * n1f(v).toDouble) * (n1b(w).toDouble / n1t)) / cv(v).toDouble
      bg -> r(math.log(p), 9)
    }
    val expect = docBigrams.map { case (id, bgs) =>
      val n = bgs.length.toLong
      val s = bgs.map(logp).sum // exact decimal sum, the operator's order-free discipline
      (id, n, r(s.toDouble / n.toDouble, 6).toDouble)
    }.toSet
    val got = TextAnalysis.qualityKneserNey(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === expect)
    // probabilities are proper: every per-doc mean log-prob is negative
    assert(got.forall(_._3 < 0.0))
  }

  test("events_forecast_backtest: brute-force OLS holdout recompute") {
    val daily = Tables.load(spark, sf, "events")
      .selectExpr("CAST(date_diff(date_trunc('day', ts), DATE '1970-01-01') AS LONG) AS x",
        "event_type")
      .groupBy("x", "event_type").count()
      .as[(Long, String, Long)].collect()
    val cut = daily.map(_._1).max - 7
    def r(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = daily.groupBy(_._2).flatMap { case (et, rows) =>
      val train = rows.filter(_._1 <= cut)
      val test = rows.filter(_._1 > cut)
      if (train.length < 2 || test.isEmpty) None else {
        val n = BigInt(train.length)
        val sy = train.map(t => BigInt(t._3)).sum
        val sx = train.map(t => BigInt(t._1)).sum
        val sxx = train.map(t => BigInt(t._1) * BigInt(t._1)).sum
        val sxy = train.map(t => BigInt(t._1) * BigInt(t._3)).sum
        val slope = r(((n * sxy - sx * sy).toDouble) /
          ((n * sxx - sx * sx).toDouble), 9)
        val sRaw = ((n * sxy - sx * sy).toDouble) / ((n * sxx - sx * sx).toDouble)
        val intercept = r((sy.toDouble - sRaw * sx.toDouble) / n.toDouble, 6)
        val apes = test.map { case (x, _, y) =>
          BigDecimal(r(math.abs((intercept + slope * x.toDouble) - y.toDouble)
            / y.toDouble, 9))
        }
        Some((et, train.length.toLong, slope, intercept, test.length.toLong,
          r(apes.sum.toDouble / test.length, 6)))
      }
    }.toSet
    val got = EventAnalytics.eventsForecastBacktest(spark, sf)
      .as[(String, Long, Double, Double, Long, Double)].collect().toSet
    assert(got === expect)
    assert(got.nonEmpty && got.forall(_._5 <= 7L), "holdout wider than 7 days")
  }

  test("mix_quota: Hamilton apportionment — sum is exactly the budget, quota never violated") {
    val got = Pipeline.mixQuota(spark, sf)
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._3).sum === 1000000L)
    val total = got.map(_._2).sum
    // brute-force largest-remainder recompute
    val fl = got.map { case (l, n, _) => (l, 1000000L * n / total,
      1000000L * n % total) }
    val leftover = 1000000L - fl.map(_._2).sum
    val bump = fl.sortBy { case (l, _, rem) => (-rem, l) }
      .take(leftover.toInt).map(_._1).toSet
    val expect = fl.map { case (l, f, _) =>
      (l, f + (if (bump(l)) 1L else 0L)) }.toMap
    got.foreach { case (l, _, alloc) =>
      assert(alloc === expect(l), s"lang $l")
      // never-violates-quota: alloc is the ideal share floored or ceiled
      val ideal = 1000000.0 * got.find(_._1 == l).get._2 / total
      assert(alloc === math.floor(ideal).toLong ||
        alloc === math.ceil(ideal).toLong)
    }
  }

  test("events_anomaly_mad: robust z equals a local median/MAD recompute") {
    val daily = Tables.load(spark, sf, "events")
      .selectExpr("date_trunc('day', ts) AS day", "event_type")
      .groupBy("day", "event_type").count()
      .as[(java.sql.Timestamp, String, Long)].collect()
    def pct(xs: Seq[Double]): Double = { // (1-g)·lo + g·hi at q=0.5
      val s = xs.sorted; val rank = (s.length - 1) * 0.5
      val (lo, g) = (s(rank.toInt), rank - rank.toInt)
      lo + g * (s(math.ceil(rank).toInt) - lo)
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = daily.groupBy(_._2).filter(_._2.length > 1)
      .flatMap { case (et, rows) =>
        val m = pct(rows.map(_._3.toDouble).toSeq)
        val ads = rows.map(r => math.abs(r._3.toDouble - m))
        val mad = pct(ads.toSeq)
        rows.toSeq.map { case (day, _, n) =>
          val z = if (mad == 0.0) 0.0
            else r6((n.toDouble - m) / (1.4826 * mad))
          (day, et, n, r6(m), r6(mad), z)
        }
      }.toSet
    val got = EventAnalytics.eventsAnomalyMad(spark, sf)
      .as[(java.sql.Timestamp, String, Long, Double, Double, Double)]
      .collect().toSet
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("profile_benford: digit counts partition orders; expected shares pinned") {
    val got = Profiling.profileBenford(spark, sf)
      .as[(Int, Long, Double, Double)].collect().sortBy(_._1)
    val prices = Tables.load(spark, sf, "orders")
      .selectExpr("CAST(floor(o_totalprice) AS BIGINT) AS p")
      .as[Long].collect()
    assert(got.map(_._2).sum === prices.length.toLong)
    val expectCounts = prices.map(_.toString.head.asDigit)
      .groupBy(identity).map { case (d, xs) => d -> xs.length.toLong }
    assert(got.map(t => t._1 -> t._2).toMap === expectCounts)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got.foreach { case (d, n, share, benford) =>
      assert(d >= 1 && d <= 9)
      assert(share === r6(n.toDouble / prices.length))
      assert(benford === r6(math.log((d + 1.0) / d) / math.log(10.0)))
    }
  }

  test("token_collocations_llr: G2 equals an in-memory recompute; attraction only") {
    val got = TextAnalysis.tokenCollocationsLlr(spark, sf)
      .as[(String, Int, String, String, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r._5 >= 5 && r._2 >= 1 && r._2 <= 20)
      assert(r._6 > 0, s"G2 of an attracted pair must be positive: $r")
    }
    // in-memory oracle: the identical 4-term Dunning sum over the same
    // contingency table, same double chain and term order, round(6)
    val bigs = Tables.load(spark, sf, "documents")
      .selectExpr("lang", "split(text, ' ') AS ws")
      .as[(String, Seq[String])].collect()
      .flatMap { case (lang, ws) =>
        ws.zip(ws.drop(1)).map { case (a, b) => (lang, a, b) } }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val m1 = bigs.groupBy { case ((l, a, _), _) => (l, a) }
      .view.mapValues(_.values.sum).toMap
    val m2 = bigs.groupBy { case ((l, _, b), _) => (l, b) }
      .view.mapValues(_.values.sum).toMap
    val nb = bigs.groupBy { case ((l, _, _), _) => l }
      .view.mapValues(_.values.sum).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def term(o: Long, n: Double, dl: Double, dr: Double): Double =
      if (o == 0L) 0.0 else o.toDouble * math.log((o.toDouble * n) / (dl * dr))
    val expected = bigs.collect {
      case ((l, a, b), cab)
        if cab >= 5 &&
          cab.toDouble * nb(l).toDouble > m1((l, a)).toDouble * m2((l, b)).toDouble =>
        val (ca, cb, n) = (m1((l, a)), m2((l, b)), nb(l))
        val nd = n.toDouble
        val llr = r6(2 * (
          term(cab, nd, ca.toDouble, cb.toDouble) +
          term(ca - cab, nd, ca.toDouble, (n - cb).toDouble) +
          term(cb - cab, nd, (n - ca).toDouble, cb.toDouble) +
          term(n - ca - cb + cab, nd, (n - ca).toDouble, (n - cb).toDouble)))
        (l, a, b, cab, llr)
    }.toSeq.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      rs.sortBy { case (_, a, b, _, llr) => (-llr, a, b) }.take(20)
        .zipWithIndex.map { case ((l, a, b, cab, llr), i) =>
          (l, i + 1, a, b, cab, llr) }
    }.sortBy(r => (r._1, r._2))
    assert(got.sortBy(r => (r._1, r._2)).toSeq === expected)
  }

  test("events_markov_stationary: hand chain fixes to (1/3, 2/3); dangling uniform") {
    def ev(rows: Seq[(Long, String, String)]) =
      rows.zipWithIndex.map { case ((u, t, tp), i) =>
        (i.toLong, java.sql.Timestamp.valueOf(t), u, tp, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // P = [[0,1],[.5,.5]] via one timeline A,B,B,A,B: stationary (1/3, 2/3)
    val chain = ev(Seq(
      (1L, "2024-01-01 10:00:00", "A"), (1L, "2024-01-01 10:01:00", "B"),
      (1L, "2024-01-01 10:02:00", "B"), (1L, "2024-01-01 10:03:00", "A"),
      (1L, "2024-01-01 10:04:00", "B")))
    val got = EventAnalytics.eventsMarkovStationaryFrom(spark, chain)
      .as[(String, Double)].collect().toMap
    assert(got === Map("A" -> 0.333333, "B" -> 0.666667))
    // dangling: C never transitions out -> uniform row; the SAME chain
    // [[0,1],[.5,.5]] emerges, so dangling handling is what's pinned here
    val dangle = ev(Seq(
      (1L, "2024-01-01 10:00:00", "A"), (1L, "2024-01-01 10:01:00", "C")))
    val got2 = EventAnalytics.eventsMarkovStationaryFrom(spark, dangle)
      .as[(String, Double)].collect().toMap
    assert(got2 === Map("A" -> 0.333333, "C" -> 0.666667))
  }

  test("events_markov_stationary: corpus pi is a stationary distribution") {
    val got = EventAnalytics.eventsMarkovStationary(spark, sf)
      .as[(String, Double)].collect().sortBy(_._1)
    val pi = got.map(_._2)
    assert(pi.forall(_ >= 0))
    assert(math.abs(pi.sum - 1.0) < 1e-5, s"sum(pi)=${pi.sum}")
    // differential twin: double power iteration over an independently
    // recomputed (lag-within-30min) transition matrix, run past
    // convergence - got must be its fixpoint on the 6-dp grid
    val raw = Tables.load(spark, sf, "events")
      .selectExpr("user_id", "ts", "event_id", "event_type")
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
    val trans = raw.groupBy(_._1).values.flatMap { tl =>
      val s = tl.sortBy(r => (r._2.getTime, r._3))
      s.zip(s.drop(1)).collect {
        case (a, b) if b._2.getTime < a._2.getTime + 30 * 60 * 1000 =>
          (a._4, b._4)
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val states = got.map(_._1)
    val rowsum = trans.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    var p = states.map(_ -> 1.0 / states.length).toMap
    for (_ <- 1 to 300) {
      p = states.map { j =>
        j -> states.map { i =>
          rowsum.get(i) match {
            case Some(rs) => p(i) * trans.getOrElse((i, j), 0L).toDouble / rs
            case None => p(i) / states.length
          }
        }.sum
      }.toMap
    }
    states.zip(pi).foreach { case (st, v) =>
      assert(math.abs(v - p(st)) < 1e-5, s"$st: got $v, twin ${p(st)}")
    }
  }
  test("citation_ktruss: square+diagonal — k=3 keeps all with exact supports, k=4 cascades to empty") {
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "1"), ("1", "3"))
      .toDF("src", "dst")
    val t3 = Citations.kTruss(edges, k = 3)
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(t3.toSeq === Seq(("1", "2", 1L), ("1", "3", 2L), ("1", "4", 1L),
      ("2", "3", 1L), ("3", "4", 1L)))
    // k=4 is the CASCADE case: round 1 keeps only the diagonal (support 2),
    // which then has no triangles left — the peel must take the second step
    assert(Citations.kTruss(edges, k = 4).count() === 0L)
    // ...and an under-sized cap must throw, not return the unconverged set
    intercept[IllegalStateException] {
      Citations.kTruss(edges, k = 4, rounds = 2)
    }
  }

  test("citation_ktruss: K4 is its own 4-truss, every edge on exactly 2 triangles") {
    val k4 = (for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a < b
    } yield (a, b)).toDF("src", "dst")
    val got = Citations.kTruss(k4, k = 4)
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got.length === 6 && got.forall(_._3 === 2L))
  }

  test("citation_ktruss: corpus differential — in-memory common-neighbor peel at sf0.001") {
    val got = Citations.kTruss(Citations.edges(spark, sf))
      .as[(String, String, Long)].collect().toSet
    val raw = Citations.edges(spark, sf).as[(String, String)].collect()
    var e = raw.filter(p => p._1 != p._2)
      .map(p => if (p._1 < p._2) p else (p._2, p._1)).toSet
    def supports(es: Set[(String, String)]): Map[(String, String), Int] = {
      val nbr = es.toSeq.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      es.iterator.map { case (a, b) => (a, b) -> (nbr(a) & nbr(b)).size }.toMap
    }
    var done = false
    while (!done) {
      val sup = supports(e)
      val next = e.filter(p => sup(p) >= 1)
      done = next == e
      e = next
    }
    val expected = supports(e).collect {
      case ((a, b), s) if s >= 1 => (a, b, s.toLong)
    }.toSet
    assert(got === expected && got.nonEmpty)
  }

  test("token_textrank: two-token doc sits at the exact uniform fixpoint") {
    val docsDf = Seq(("en", "a b")).toDF("lang", "text")
    val got = TextAnalysis.tokenTextrankFrom(docsDf)
      .as[(String, Int, String, Long)].collect().sortBy(_._2)
    // n=2: r0 = 10^12/2; one round: base 3*10^12/40 = 7.5e10, inflow
    // (17*5e11)/20 = 4.25e11 -> 5e11 again. Exactly stationary, so all 10
    // defined rounds return the uniform mass; tie-break is token asc.
    assert(got.toSeq === Seq(("en", 1, "a", 500000000000L),
      ("en", 2, "b", 500000000000L)))
  }

  test("token_textrank: BigInt recompute at sf0.001 matches bit-exactly; mass conserved") {
    val got = TextAnalysis.tokenTextrank(spark, sf, topK = Int.MaxValue)
      .as[(String, Int, String, Long)].collect()
    val all = got.map(r => ((r._1, r._3), BigInt(r._4))).toMap
    val docsRaw = Tables.load(spark, sf, "documents")
      .selectExpr("lang", "split(text, ' ') AS ws")
      .as[(String, Seq[String])].collect()
    val pw = scala.collection.mutable.Map[(String, String, String), Long]()
      .withDefaultValue(0L)
    docsRaw.foreach { case (l, ws) =>
      ws.zip(ws.drop(1)).foreach { case (x, y) =>
        if (x != y) {
          val (a, b) = if (x < y) (x, y) else (y, x)
          pw((l, a, b)) += 1L
        }
      }
    }
    val SCALE = BigInt("1000000000000")
    pw.keys.map(_._1).toSet.foreach { (l: String) =>
      val edges = pw.collect { case ((`l`, a, b), w) => (a, b, BigInt(w)) }.toSeq
      val wdeg = scala.collection.mutable.Map[String, BigInt]()
        .withDefaultValue(BigInt(0))
      edges.foreach { case (a, b, w) => wdeg(a) += w; wdeg(b) += w }
      val n = wdeg.size
      val base = (BigInt(3) * SCALE) / (BigInt(20) * n)
      var pr = wdeg.keys.map(t => t -> SCALE / n).toMap
      for (_ <- 1 to 10) {
        val inflow = scala.collection.mutable.Map[String, BigInt]()
          .withDefaultValue(BigInt(0))
        edges.foreach { case (a, b, w) =>
          inflow(b) += (BigInt(17) * w * pr(a)) / (BigInt(20) * wdeg(a))
          inflow(a) += (BigInt(17) * w * pr(b)) / (BigInt(20) * wdeg(b))
        }
        pr = wdeg.keys.map(t => t -> (base + inflow(t))).toMap
      }
      pr.foreach { case (t, v) =>
        assert(all((l, t)) === v, s"$l/$t: spark ${all.get((l, t))}, twin $v")
      }
      // floor-division bleeds <1 picounit per term per round: the lang's
      // total mass stays within 0.1% of the invariant 10^12
      val mass = pr.values.sum
      assert(mass <= SCALE && mass > SCALE * 999 / 1000, s"$l mass $mass")
    }
  }

  test("events_holt: constant and exact-ramp series forecast exactly") {
    def ev(rows: Seq[(String, String)]) =
      rows.zipWithIndex.map { case ((t, tp), i) =>
        (i.toLong, java.sql.Timestamp.valueOf(t), 1L, tp, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // constant series y=2 over 3 days: T stays 0, L stays 2e6 (the update
    // algebra cancels exactly), so every horizon forecasts 2e6
    val const = ev(Seq(
      ("2024-01-01 01:00:00", "A"), ("2024-01-01 02:00:00", "A"),
      ("2024-01-02 01:00:00", "A"), ("2024-01-02 02:00:00", "A"),
      ("2024-01-03 01:00:00", "A"), ("2024-01-03 02:00:00", "A")))
    val gotC = EventAnalytics.eventsHoltFrom(spark, const)
      .as[(String, Int, Long, Double)].collect().sortBy(_._2)
    assert(gotC.map(_._2).toSeq === (1 to 7))
    assert(gotC.forall(r => r._3 === 2000000L && r._4 === 2.0))
    // exact ramp y = t (1,2,3,4): L = y_t*S and T = S is INVARIANT from
    // init, so forecast(h) = (4 + h) * 1e6 exactly — the spec-pinned law
    val ramp = ev((1 to 4).flatMap(d =>
      (1 to d).map(k => (f"2024-01-0$d%d 0$k%d:00:00", "B"))))
    val gotR = EventAnalytics.eventsHoltFrom(spark, ramp)
      .as[(String, Int, Long, Double)].collect().sortBy(_._2)
    gotR.foreach { r => assert(r._3 === (4L + r._2) * 1000000L, s"h=${r._2}") }
  }

  test("events_holt: BigInt recompute from raw sf0.001 events matches bit-exactly") {
    val got = EventAnalytics.eventsHolt(spark, sf)
      .as[(String, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val raw = Tables.load(spark, sf, "events")
      .selectExpr("event_type",
        "datediff(date_trunc('day', ts), DATE '1970-01-01') AS day")
      .as[(String, Int)].collect()
    val counts = raw.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val dmin = raw.map(_._2).min
    val dmax = raw.map(_._2).max
    val S = BigInt(1000000)
    def fdiv(a: BigInt, b: BigInt): BigInt = {
      val (q, r) = a /% b; if (r.signum < 0) q - 1 else q
    }
    raw.map(_._1).distinct.foreach { t =>
      val ys = (dmin to dmax).map(dd => BigInt(counts.getOrElse((t, dd), 0L)))
      var l = ys.head * S
      var tr = (ys(1) - ys.head) * S
      for (i <- 1 until ys.length) {
        val lNew = fdiv(ys(i) * S + 3 * (l + tr), 4)
        tr = fdiv((lNew - l) + 7 * tr, 8)
        l = lNew
      }
      (1 to 7).foreach { h =>
        assert(got((t, h)) === (l + h * tr).toLong, s"$t h=$h")
      }
    }
  }

  test("events_holt / events_holt_winters: empty corpus yields zero rows, not a throw") {
    val none = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(EventAnalytics.eventsHoltFrom(spark, none).count() === 0L)
    assert(EventAnalytics.eventsHoltWintersFrom(spark, none).count() === 0L)
  }

  test("events_holt_winters: exact weekly-periodic series forecasts each weekday exactly") {
    // counts per weekday; on an EXACTLY periodic series the HW update
    // algebra locks L (constant), T = 0, S_i = y_i*S - L from init onward
    // (every floor division is exact), so forecast(h) = y(weekday)*1e6
    val c = Seq(2L, 4L, 1L, 5L, 3L, 2L, 4L)
    val rows = (0 until 21).flatMap { d =>
      (1 to c(d % 7).toInt).map { k =>
        (d * 100L + k,
          java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d $k%02d:00:00"),
          1L, "A", 1.0, "{}")
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventAnalytics.eventsHoltWintersFrom(spark, rows)
      .as[(String, Int, Long, Double)].collect().sortBy(_._2)
    assert(got.map(_._2).toSeq === (1 to 7))
    // dmax is day 20 (0-based); forecast day 20+h has weekday (20+h) mod 7
    got.foreach { r =>
      assert(r._3 === c((20 + r._2) % 7) * 1000000L, s"h=${r._2}")
    }
    // a span under two weeks cannot init the seasonal state: zero rows on
    // both engines (the SQL twin's HAVING gate), never a partial forecast
    val short = rows.where(col("ts") < org.apache.spark.sql.functions.lit("2024-01-11"))
    assert(EventAnalytics.eventsHoltWintersFrom(spark, short).count() === 0L)
  }

  test("events_ridge: BigInt Cramer recompute matches; ridge shrinks toward zero") {
    import org.apache.spark.sql.functions.{col => c, date_trunc, datediff, lit, count => cnt}
    val got = EventAnalytics.eventsRidge(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.nonEmpty)
    // independent recompute: daily counts in memory, normal equations in
    // BigInt, Cramer with mathematical floor
    val daily = Tables.load(spark, sf, "events")
      .groupBy(datediff(date_trunc("day", c("ts")),
        lit("1970-01-01").cast("date")).as("x"), c("event_type"))
      .agg(cnt(lit(1)).as("y"))
      .as[(Int, String, Long)].collect()
    val x0 = daily.map(_._1).min
    val lam = BigInt(10)
    def floorDiv(a: BigInt, b: BigInt): BigInt = {
      val q = a / b; if (a % b != 0 && (a.signum != b.signum)) q - 1 else q
    }
    daily.groupBy(_._2).foreach { case (et, rows) =>
      val ts = rows.map(r => BigInt(r._1 - x0))
      val ws = rows.map(r => BigInt(if ((r._1 + 4) % 7 == 0 || (r._1 + 4) % 7 == 6) 1 else 0))
      val ys = rows.map(r => BigInt(r._3))
      val n = BigInt(rows.length)
      val st = ts.sum; val stt = ts.map(t => t * t).sum
      val sw = ws.sum; val swt = ts.zip(ws).map { case (t, w) => t * w }.sum
      val sy = ys.sum; val sty = ts.zip(ys).map { case (t, y) => t * y }.sum
      val swy = ws.zip(ys).map { case (w, y) => w * y }.sum
      def det(c1: (BigInt, BigInt, BigInt), c2: (BigInt, BigInt, BigInt),
              c3: (BigInt, BigInt, BigInt)): BigInt =
        c1._1 * (c2._2 * c3._3 - c2._3 * c3._2) -
          c2._1 * (c1._2 * c3._3 - c1._3 * c3._2) +
          c3._1 * (c1._2 * c2._3 - c1._3 * c2._2)
      val a1 = (n + lam, st, sw); val a2 = (st, stt + lam, swt)
      val a3 = (sw, swt, sw + lam); val b = (sy, sty, swy)
      val dA = det(a1, a2, a3)
      assert(dA > 0, s"$et: ridge matrix not SPD?")
      val exp = (floorDiv(det(b, a2, a3) * 1000000, dA),
        floorDiv(det(a1, b, a3) * 1000000, dA),
        floorDiv(det(a1, a2, b) * 1000000, dA))
      val r = got.find(_._1 == et).get
      assert(r._2 === rows.length.toLong, s"$et n_days")
      assert((r._3, r._4, r._5) === exp, s"$et theta")
    }
    // regularization sanity: a huge lambda crushes every coefficient
    val crushed = EventAnalytics.eventsRidge(spark, sf, lambda = 1000000000L)
      .as[(String, Long, Long, Long, Long)].collect()
    crushed.foreach { r =>
      assert(math.abs(r._3) < got.find(_._1 == r._1).get._3.abs.max(1),
        s"${r._1} intercept did not shrink")
    }
  }
}
