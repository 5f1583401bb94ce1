package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loader for the driver's parquet tables (`TESTDATA.md`).
  *
  * All queries take an `sfDir` (e.g. `/root/testdata/sf0.01`) and read the
  * table they need lazily — Catalyst prunes columns and pushes filters into
  * the parquet scan, so loading "the whole table" here costs nothing beyond
  * what the query actually touches. At cluster scale the same code reads a
  * partitioned table root instead of a single file; nothing here assumes
  * single-file inputs.
  *
  * A plain `spark.read.parquet` infers the schema from the footers with a
  * one-task Spark job, on every read. [[load]] infers each table's schema
  * once per session and passes it to later reads with
  * `spark.read.schema(...)`, which start no job. The memo is keyed on
  * everything inference depends on:
  *  - the qualified path;
  *  - the number, total length and latest modification time of the files
  *    under it, so a rewritten table infers again;
  *  - the session's explicitly set `spark.sql.parquet.*` and
  *    `spark.sql.legacy.parquet.*` confs, so changing one (say
  *    `spark.sql.legacy.parquet.nanosAsLong`) infers again.
  * It holds schemas only (no rows, no RDD, no plan) and lives as long as
  * its session. Directories the engine writes itself (`Compactor`,
  * `SkippingIndex`, `FingerprintIndex`) are read without it.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Canonicalize on-disk timestamp encodings to session-zone
    * `TimestampType` — the type every operator and oracle was written
    * against. The driver has shipped the time columns two ways across
    * data regenerations, and this seam absorbs both:
    *
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4
    *    infers as TIMESTAMP_NTZ: cast to TimestampType. The session zone
    *    is pinned to UTC everywhere (Verify/Bench/tests), so the cast
    *    reinterprets the wall-clock as the same instant — value-identical
    *    to what DuckDB reads from the same file.
    *  - parquet TIMESTAMP(NANOS) surfaced as raw int64 via
    *    spark.sql.legacy.parquet.nanosAsLong=true (Spark 4 refuses to map
    *    nanos to TimestampType — PARQUET_TYPE_ILLEGAL): truncate to micros
    *    with INTEGER division (a double division would lose precision at
    *    ~1.7e18 ns) — the same floor-to-µs conversion DuckDB applies.
    *
    * Applied to every column so `o_orderdate`/`l_shipdate`/`ts` all land
    * on one canonical type regardless of which encoding is on disk; a
    * no-op (same plan, no extra projection) when the scan already yields
    * TimestampType.
    */
  private[graft] def canonTimestamps(df: DataFrame, nanosLongCols: Set[String]): DataFrame = {
    val fixes = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType =>
        f.name -> col(f.name).cast(TimestampType)
      case f if f.dataType == LongType && nanosLongCols(f.name) =>
        f.name -> expr(s"timestamp_micros(${f.name} div 1000)")
    }
    fixes.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
  }

  private case class SchemaKey(path: String, files: Long, bytes: Long, modified: Long,
                               confs: Map[String, String])

  /** Per session, weakly held: a dropped session takes its schemas along. */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, java.util.Map[SchemaKey, StructType]]()

  /** The memo key of the table at `path`; None when it does not exist, so
    * the plain read reports the missing path in Spark's own words. */
  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = fs.makeQualified(p)
    if (!fs.exists(q)) None
    else {
      var (files, bytes, modified) = (0L, 0L, 0L)
      val it = fs.listFiles(q, true)
      while (it.hasNext) {
        val f = it.next()
        files += 1
        bytes += f.getLen
        modified = modified.max(f.getModificationTime)
      }
      val confs = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }
      Some(SchemaKey(q.toString, files, bytes, modified, confs))
    }
  }

  /** A parquet read that infers `path`'s schema only on a memo miss. */
  private def readParquet(spark: SparkSession, path: String): DataFrame =
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(key) =>
        val memo = schemas.synchronized(schemas.computeIfAbsent(spark,
          _ => new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]()))
        Option(memo.get(key)) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            memo.put(key, df.schema)
            df
        }
    }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = readParquet(spark, s"$sfDir/$name.parquet")
    // events.ts is the one column that has shipped as TIMESTAMP(NANOS);
    // the relational date columns were never longs, so an int64 there is
    // a genuine integer and must not be reinterpreted.
    canonTimestamps(raw, if (name == "events") Set("ts") else Set.empty)
  }

  /** Register every table as a temp view so `spark.sql` text matches the
    * DuckDB oracle text where convenient. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
