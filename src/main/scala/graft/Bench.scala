package graft

/** Per-round benchmark: wall-clock per query at SPARK_GRAFT_SF_DIR.
  *
  * Each query is materialized through an order-insensitive checksum
  * (`bit_xor(xxhash64(struct(*)))` — xor, not sum: summing 2^63-scale
  * hashes overflows under ANSI mode) — unlike `.count()`, that forces every
  * projected column of every row through the full plan, so projection-only
  * queries can't degenerate into a parquet row-count. Failures are
  * reported explicitly in an `errors` object (timing -1), never silently
  * recorded as a fake timing. One global untimed warm-up absorbs
  * JVM/codegen startup so the first measured query isn't a classloading
  * benchmark, and each query additionally gets its OWN untimed warm-up
  * run so the timed medians don't embed first-touch page-cache and AQE
  * statistics effects (which produced 10× max/min per-query spreads in
  * rounds 4–6).
  *
  * Each query runs REPEATS times (default 3, `SPARK_GRAFT_BENCH_REPEATS`)
  * and the reported timing is the MEDIAN — a single-run bench cannot tell
  * sandbox contention / GC pauses from real regressions (round-4 verdict:
  * 2–6× swings on untouched code). The full per-run spread is kept in
  * `BENCH_DETAIL.json` (`runs` object) so any residual swing is
  * attributable to a specific run, not smeared into the headline. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // target environment is local[32] (one executor thread per core) —
    // session config, checksum, and median are BenchKit's single
    // definitions, shared with the other harness mains so "bench
    // conditions" is a structural guarantee. periodicGC moved OUT of the
    // run window (30 min): sweepAll's explicit System.gc() between executions
    // already drains the cleaner queue deterministically, so the 60 s
    // timer's only bench-visible effect was a full GC landing inside a
    // timed run (the r11 full-bench-only scc-inflation suspect).
    val spark = BenchKit.session(periodicGC = "30min")

    def checksum(name: String, fn: SparkEntry.Q): Unit =
      BenchKit.checksum(fn(spark, sfDir))

    // warm-up (untimed): JVM, codegen, parquet footers
    try checksum("warmup", (s, d) => SparkEntry.queries("q1_pricing_summary")(s, d))
    catch { case _: Throwable => () }
    Blocks.sweepAll(spark)

    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt.max(1)
    // dev-loop subset (comma-separated names) and order reversal (the
    // bench-order independence check); the driver sets neither, so the
    // shipped methodology — full suite, alphabetical — is unchanged.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val reverse = sys.env.get("SPARK_GRAFT_BENCH_REVERSE").contains("1")
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val runs = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    // per timed run: stop-the-world GC ms that landed inside it, and the
    // 1-min load average at its start — the r11 verdict's instrumentation
    // so median-vs-min debates resolve from the committed artifact
    val gcs = scala.collection.mutable.LinkedHashMap[String, Seq[Long]]()
    val loads = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def median(xs: Seq[Double]): Double = BenchKit.median(xs)
    val ordered = {
      val base = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_(n)) }
      if (reverse) base.reverse else base
    }
    ordered.foreach { case (name, fn) =>
      val rs = scala.collection.mutable.ArrayBuffer[Double]()
      val gs = scala.collection.mutable.ArrayBuffer[Long]()
      val ls = scala.collection.mutable.ArrayBuffer[Double]()
      var failed = false
      // per-query untimed warm-up: the first execution of a query pays
      // page-cache population and AQE statistics that later runs reuse
      // (r6 verdict: citation_reach ran [29.59, 4.44, 2.74] — the median
      // itself was ~60% warm-up). One discarded run per query keeps the
      // timed repeats measuring the plan, not the cache state.
      try checksum(name, fn)
      catch { case e: Throwable =>
        failed = true
        errors(name) =
          e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(160)
      }
      // block-manager sweep OUTSIDE the timed region, after EVERY
      // execution: each localCheckpoint a query takes leaves its blocks
      // behind, and across ~100 queries × 4 executions the accumulation
      // squeezes execution memory (r7: dedup_near 0.58 → 3.54 s with zero
      // code change, monotonic within-query run times). Sweeping between
      // runs makes each timed run self-contained — it already pays for
      // its OWN checkpoints, it must not also pay rent on everyone
      // else's. JVM/codegen/page-cache warm-up survives the sweep.
      Blocks.sweepAll(spark)
      (1 to repeats).foreach { _ =>
        if (!failed) {
          ls += BenchKit.loadAvg()
          val g0 = BenchKit.gcMillis()
          val t0 = System.nanoTime()
          try {
            checksum(name, fn)
            rs += (System.nanoTime() - t0) / 1e9
            gs += BenchKit.gcMillis() - g0
          } catch { case e: Throwable =>
            failed = true
            errors(name) =
              e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(160)
          }
          Blocks.sweepAll(spark)
        }
      }
      runs(name) = rs.toSeq
      gcs(name) = gs.toSeq
      loads(name) = ls.toSeq
      timings(name) = if (failed || rs.isEmpty) -1.0 else median(rs.toSeq)
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def r2(v: Double): String =
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val total = timings.values.filter(_ >= 0).sum

    // Full-precision detail to a file: the harness that captures this
    // process's output keeps only a bounded tail, so the stdout line below
    // must stay small — the complete per-query record lives here.
    val detail = {
      val qs = timings.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
      val rs = runs.map { case (k, v) => s"${q(k)}:${v.mkString("[", ",", "]")}" }
        .mkString("{", ",", "}")
      val gj = gcs.map { case (k, v) => s"${q(k)}:${v.mkString("[", ",", "]")}" }
        .mkString("{", ",", "}")
      val lj = loads.map { case (k, v) =>
        s"${q(k)}:${v.map(x => f"$x%.2f").mkString("[", ",", "]")}"
      }.mkString("{", ",", "}")
      val es = errors.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","stat":"median_of_$repeats","queries":$qs,"runs":$rs,"gc_ms":$gj,"loadavg":$lj,"errors":$es,"sf":"$sfDir"}"""
    }
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      (detail + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    // round-stamped copy so the full per-query history is COMMITTABLE —
    // the headline BENCH_r{N} line truncates below ~0.7 s, so without
    // this a sub-floor query could regress 5× across rounds invisibly
    sys.env.get("SPARK_GRAFT_ROUND").foreach { r =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(s"BENCH_DETAIL_r$r.json"),
        (detail + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    }

    // ONE compact JSON line on stdout, budgeted to survive a 2000-char
    // output tail (sbt appends a ~80-char success line after us): timings
    // at 2 decimals, slowest queries first, truncated — never reordered
    // mid-entry — once the line would overflow the budget.
    val lineBudget = 1800
    val fixedOverhead = 150 // includes the "stat":"median_of_N" field
    val entries = timings.toSeq.sortBy(-_._2).map { case (k, v) => s"${q(k)}:${r2(v)}" }
    val kept = scala.collection.mutable.ArrayBuffer[String]()
    var used = 0
    entries.foreach { e =>
      if (used + e.length + 1 <= lineBudget - fixedOverhead) { kept += e; used += e.length + 1 }
    }
    val omitted = entries.length - kept.length
    val esLine = errors.map { case (k, v) => s"${q(k)}:${q(v.take(60))}" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r2(total)},"unit":"sec","stat":"median_of_$repeats","queries":${kept.mkString("{", ",", "}")},"queries_omitted":$omitted,"errors":$esLine,"sf":"$sfDir"}""")
    spark.stop()
  }
}
