package graft

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}

import scala.annotation.tailrec
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader for the driver's parquet tables (`TESTDATA.md`).
  *
  * All queries take an `sfDir` (e.g. `/root/testdata/sf0.01`) and read the
  * table they need lazily — Catalyst prunes columns and pushes filters into
  * the parquet scan, so loading "the whole table" here costs nothing beyond
  * what the query actually touches. At cluster scale the same code reads a
  * partitioned table root instead of a single file; nothing here assumes
  * single-file inputs.
  *
  * [[memo]] is the session's one store for work shared across queries:
  * each table's schema, which [[load]] infers once per session and passes
  * to later reads with `spark.read.schema(...)` (a plain read infers it
  * from the footers with a one-task job, every time), and the model fits
  * (`Citations`' SCC and Louvain labels, `Similarity`'s IVF centroids, PQ
  * codebooks, PCA and k-means fits). An entry is keyed on the session,
  * then on the model's name, its parameters and its input table paths,
  * and stamped with those tables' content: the qualified path and the
  * number, total length and latest modification time of the files under
  * each. A call whose stamp differs refits and replaces the entry, so a
  * table rewritten at the same path refits, and the memo holds one entry
  * per (model, params, paths) per session. A checkpointed frame a fit
  * returns is pinned against [[Blocks.sweepAll]] while it is the current
  * entry, and [[Blocks.release]]d when replaced. Within one session, a
  * query and its oracle twin read the same fit, bit for bit. Directories
  * the engine writes itself (`Compactor`, `SkippingIndex`,
  * `FingerprintIndex`) are read without the memo.
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

  /** A path's content stamp; None for a path that does not exist. */
  private case class Content(path: String, files: Long, bytes: Long, modified: Long)

  private def content(spark: SparkSession, path: String): Option[Content] = {
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
      Some(Content(q.toString, files, bytes, modified))
    }
  }

  private case class Key(model: String, params: Any, paths: Seq[String])

  /** One fit, run once however many callers share it. */
  private final class Entry(val stamp: Seq[Option[Content]], fit: => Any) {
    private val task = new FutureTask[Any](() => { val a = fit; frame(a).foreach(Blocks.pin); a })

    def value: Any = {
      task.run()
      try task.get() catch { case e: ExecutionException => throw e.getCause }
    }

    def release(): Unit =
      if (task.isDone) Try(task.get()).toOption.flatMap(frame).foreach(Blocks.release)
  }

  private def frame(a: Any): Option[DataFrame] = a match {
    case df: DataFrame @unchecked => Some(df)
    case _ => None
  }

  /** Per session, weakly held: a dropped session takes its entries along,
    * unless one of them (a checkpointed frame) still refers to it. */
  private val sessions = new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Key, Entry]]()

  /** `fit`, computed once per session, `model`, `params` and content of
    * the tables at `paths` (see above); a fit that throws leaves no entry.
    * The fit runs outside the map, after its holder is in, so it may use
    * the memo itself, as every fit that reads a table through [[load]]
    * does. */
  def memo[A](spark: SparkSession, model: String, params: Any, paths: Seq[String])(fit: => A): A = {
    val entries = sessions.synchronized(
      sessions.computeIfAbsent(spark, _ => new ConcurrentHashMap[Key, Entry]()))
    val key = Key(model, params, paths)
    val mine = new Entry(paths.map(content(spark, _)), fit)
    @tailrec def current(): Entry = entries.putIfAbsent(key, mine) match {
      case null => mine
      case e if e.stamp == mine.stamp => e
      case e if entries.replace(key, e, mine) => e.release(); mine
      case _ => current()
    }
    val e = current()
    try e.value.asInstanceOf[A]
    catch { case t: Throwable => entries.remove(key, e); throw t }
  }

  /** Where table `name` of `sfDir` lives. */
  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** A parquet read that infers `path`'s schema only on a memo miss; the
    * parquet confs are the parameters. A missing path fails in the
    * inference, with Spark's own error. */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    spark.read.schema(memo(spark, "schema", confs, Seq(path))(spark.read.parquet(path).schema))
      .parquet(path)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = readParquet(spark, path(sfDir, name))
    // events.ts is the one column that has shipped as TIMESTAMP(NANOS);
    // the relational date columns were never longs, so an int64 there is
    // a genuine integer and must not be reinterpreted.
    canonTimestamps(raw, if (name == "events") Set("ts") else Set.empty)
  }

  /** `body` over `df` registered as a temp view named `prefix` plus a
    * suffix unique to the call, dropped when `body` returns; `spark.sql`
    * analyses eagerly, so a frame `body` returns keeps the view's plan. */
  def withView[A](df: DataFrame, prefix: String)(body: String => A): A = {
    val name = s"${prefix}_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    df.createTempView(name)
    try body(name) finally df.sparkSession.catalog.dropTempView(name)
  }
}
