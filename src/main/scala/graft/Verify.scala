package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The deterministic presentation sort the hash compare wants is applied
  * HERE (from SparkEntry.verifyOrder), not inside the operators — so the
  * operators keep their scale-shaped, sort-free plans. */
object Verify {
  def main(args: Array[String]): Unit = {
    // usage: Verify <sfDir> <outDir> [queryName...] — names filter the
    // dump to a subset (dev loop); the driver always passes none.
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    // if a session already exists (VerifySpec drives this main in-JVM),
    // reuse it and leave it running; only stop what we created
    val preExisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // kept for older testdata encodings (TIMESTAMP(NANOS) read as raw
      // int64); harmless for the current TIMESTAMP_NTZ micros files —
      // graft.Tables canonicalizes either to session-zone timestamps
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Blocks.quietReleaseWarnings() // harness JVM: deliberate releases only
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val sorted = SparkEntry.verifyOrder.get(name)
          .map(cols => df.orderBy(cols: _*)).getOrElse(df)
        sorted.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // same block-manager discipline as Bench: a query's checkpoint
      // blocks must not outlive its dump (graft.Blocks)
      Blocks.sweepAll(spark)
    }
    // The JVM-side source of truth for gate set-equality: every artifact
    // built from this dump must enumerate EXACTLY this key set (r13/r14
    // drift class: late-added queries silently missing from sf0.1 gate +
    // bench detail). Always the FULL set, even on subset dev dumps — the
    // contract is SparkEntry.queries, not whatever this run dumped.
    def keys(names: Iterable[String]) =
      names.toSeq.sorted.mkString("[\"", "\", \"", "\"]")
    Files.writeString(Paths.get(s"$outDir/query_keys.json"),
      keys(SparkEntry.queries.keySet))
    // same contract for the oracled subset: oracle_check.py fails a
    // query named here whose twin is missing from oracle_sql.json (a
    // killed or subset dump), instead of reading it as rows-only
    Files.writeString(Paths.get(s"$outDir/oracle_keys.json"),
      keys(SparkEntry.oracleSql.keySet ++ SparkEntry.dynamicOracleNames))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the dev-loop filter applies here too: a subset dump must not list
    // oracles it wrote no parquet for, or the companion oracle_check.py
    // reports every filtered-out query as a spurious failure. But a
    // subset dump into a dir that ALREADY holds a map MERGES into it
    // (new entries win) — a shared outDir accumulates incremental dumps,
    // and overwriting with the subset would orphan every other query's
    // parquet at compare time.
    val path = Paths.get(s"$outDir/oracle_sql.json")
    val existing: Map[String, String] =
      if (only.nonEmpty && Files.exists(path))
        org.json4s.jackson.JsonMethods.parse(Files.readString(path)) match {
          case org.json4s.JObject(fields) =>
            fields.collect { case (k, org.json4s.JString(v)) => k -> v }.toMap
          case _ => Map.empty
        }
      else Map.empty
    val merged = existing ++
      (SparkEntry.oracleSql ++ SparkEntry.dynamicOracleSql(spark, sfDir))
        .filter { case (k, _) => only.isEmpty || only(k) }
    val json = merged
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(path, json)
    if (!preExisting) spark.stop()
  }
}
