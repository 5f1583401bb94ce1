package graft

import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}

import org.apache.spark.sql.SparkSession

import graft.operators.Citations
import graft.sources.EdgeListReader

/** The reference's end-to-end flagship pipeline as one CLI: SNAP edge
  * file in → formatted "Top 30 Most Cited Papers" report file out
  * (reference behavior: /root/reference/master/master.py:33,206-224 —
  * input data/cit-HepTh.txt, output output/final_citation_counts.txt).
  *
  * Usage: CitationReportApp <edges.txt> <report.txt> [timestamp]
  *
  * The third argument pins the "Generated on:" footer (the reference
  * stamps wall-clock, master.py:224) so golden tests can byte-compare;
  * omitted, it stamps UTC now in the reference's format.
  */
object CitationReportApp {

  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Pure pipeline: read → [[Citations.report]] → write. */
  def run(spark: SparkSession, input: String, output: String,
          generatedOn: String): Unit = {
    val report = Citations.report(EdgeListReader.read(spark, input), generatedOn)
    val out = Paths.get(output)
    if (out.getParent != null) Files.createDirectories(out.getParent)
    Files.writeString(out, report)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CitationReportApp <edges.txt> <report.txt> [timestamp]")
    val generatedOn =
      if (args.length > 2) args(2)
      else ZonedDateTime.now(ZoneOffset.UTC).format(TsFormat)
    val spark = SparkSession.builder()
      .appName("graft-citation-report")
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try run(spark, args(0), args(1), generatedOn)
    finally spark.stop()
  }
}
