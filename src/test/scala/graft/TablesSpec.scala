package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Citations, Similarity}
import SparkTestBase.jobsOf

/** [[Tables.memo]]: a repeated load infers nothing and a repeated model
  * call fits nothing, while a changed file or a changed parquet conf
  * infers and fits again. Also: queries leave the session catalog as they
  * found it. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Runs `body` in a fresh temporary directory, removed afterwards. */
  private def inTempDir(body: String => Unit): Unit = {
    val d = Files.createTempDirectory("tables-spec")
    try body(d.toString)
    finally Files.walk(d).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  test("a second load of one file starts no job; a rewritten file yields its new schema") {
    inTempDir { dir =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
      val (first, firstJobs) = jobsOf(Tables.load(spark, dir, "t"))
      assert(firstJobs >= 1, "the first load should infer the schema with a job")
      val (second, secondJobs) = jobsOf(Tables.load(spark, dir, "t"))
      assert(secondJobs === 0)
      assert(second.schema === first.schema)
      assert(second.as[(Long, String)].collect().sorted.toSeq === Seq((1L, "a"), (2L, "b")))
      // the same path rewritten with another schema
      Seq((1L, "a", 10L)).toDF("k", "v", "w").write.mode("overwrite").parquet(s"$dir/t.parquet")
      val third = Tables.load(spark, dir, "t")
      assert(third.schema.fieldNames.toSeq === Seq("k", "v", "w"))
      assert(third.as[(Long, String, Long)].collect().toSeq === Seq((1L, "a", 10L)))
    }
  }

  test("a changed spark.sql.legacy.parquet.nanosAsLong infers the schema again") {
    inTempDir { dir =>
      val schema = MessageTypeParser.parseMessageType(
        "message t { required int64 ts (TIMESTAMP(NANOS,true)); required binary s (UTF8); }")
      val w = ExampleParquetWriter.builder(new Path(s"$dir/n.parquet")).withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("ts", 1700000000123456789L).append("s", "x"))
      finally w.close()
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val was = spark.conf.getOption(key)
      try {
        spark.conf.set(key, "true")
        assert(Tables.load(spark, dir, "n").schema.map(_.dataType) === Seq(LongType, StringType))
        // nanos have no Spark type without the legacy conf: a stale memo
        // would hand back the LongType schema instead of failing
        spark.conf.set(key, "false")
        intercept[AnalysisException](Tables.load(spark, dir, "n"))
        spark.conf.set(key, "true")
        assert(Tables.load(spark, dir, "n").schema.map(_.dataType) === Seq(LongType, StringType))
      } finally was match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("a missing table fails with Spark's own error") {
    inTempDir(dir => intercept[AnalysisException](Tables.load(spark, dir, "absent")))
  }

  private def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.id
    case p => fail(s"not a checkpointed frame: $p")
  }

  /** `lineitem` as the citation graph `src -> dst`, over whatever is at `dir`. */
  private def writeLineitem(s: SparkSession, dir: String, edges: Seq[(Long, Long)]): Unit = {
    import s.implicits._
    edges.toDF("l_orderkey", "l_partkey").write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  private def nodes(s: SparkSession, dir: String, query: String): Set[String] =
    SparkEntry.queries(query)(s, dir).select("paper_id").collect().map(_.getString(0)).toSet

  test("a lineitem rewritten at the same path refits the SCC and Louvain labels") {
    inTempDir { dir =>
      val s = spark.newSession()
      writeLineitem(s, dir, Seq(1L -> 2L, 2L -> 3L, 3L -> 1L))
      assert(nodes(s, dir, "citation_scc_all") === Set("1", "2", "3"))
      assert(nodes(s, dir, "citation_louvain") === Set("1", "2", "3"))
      val old = Seq(Citations.sccLabelsCached(s, dir), Citations.louvainLabelsCached(s, dir)).map(rddId)
      // a repeated call is the same frame
      assert(rddId(Citations.sccLabelsCached(s, dir)) === old.head)
      writeLineitem(s, dir, Seq(7L -> 8L, 8L -> 9L, 9L -> 7L))
      assert(nodes(s, dir, "citation_scc_all") === Set("7", "8", "9"))
      assert(nodes(s, dir, "citation_louvain") === Set("7", "8", "9"))
      val persisted = s.sparkContext.getPersistentRDDs.keySet
      old.foreach(id => assert(!persisted.contains(id), s"superseded label checkpoint $id still persisted"))
    }
  }

  test("an embeddings table rewritten at the same path refits PCA and k-means") {
    inTempDir { dir =>
      val s = spark.newSession()
      import s.implicits._
      def write(shift: Float): Seq[Array[Float]] = {
        val rng = new scala.util.Random(7)
        val rows = Seq.tabulate(16)(i => (i.toLong, Array.fill(64)(rng.nextFloat() + shift), i % 2))
        rows.map { case (id, v, l) => (id, v.toSeq, l) }.toDF("vec_id", "embedding", "label")
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        rows.map(_._2)
      }
      def mean(vs: Seq[Array[Float]]): Seq[Double] =
        (0 until 64).map(i => vs.map(_(i).toDouble).sum / vs.size)
      def close(a: Seq[Double], b: Seq[Double]) =
        a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-4 }

      val before = write(0f)
      assert(close(Similarity.pcaFitCached(s, dir, 4)._2.toSeq, mean(before)))
      assert(Similarity.kmeansFitCached(s, dir).flatten.forall(_ < 1f))
      val after = write(100f)
      assert(close(Similarity.pcaFitCached(s, dir, 4)._2.toSeq, mean(after)))
      assert(Similarity.kmeansFitCached(s, dir).flatten.forall(_ >= 100f))
    }
  }

  test("queries leave the session catalog as they found it") {
    val s = spark.newSession()
    s.range(3).toDF("c").createOrReplaceTempView("customer")
    s.range(5).toDF("e").createOrReplaceTempView("graft_citation_edges")
    def views = s.catalog.listTables().collect().map(_.name).toSet
    val before = views
    Seq("agg_grouping_sets", "citation_reach").foreach { q =>
      assert(SparkEntry.queries(q)(s, "/root/testdata/sf0.001").collect().nonEmpty, q)
    }
    assert(views === before)
    assert(s.table("customer").collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(s.table("graft_citation_edges").count() === 5)
  }
}
