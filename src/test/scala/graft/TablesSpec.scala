package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import SparkTestBase.jobsOf

/** [[Tables.load]]'s schema memo: a repeated load infers nothing, and a
  * changed file or a changed parquet conf infers again. */
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
}
