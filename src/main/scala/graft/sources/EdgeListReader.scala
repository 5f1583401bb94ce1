package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SNAP-style citation edge-list reader (SURVEY.md §2.1 O1–O4): fields
  * separated by a tab (reference: worker/mapper/mapper.py:75); comments and
  * blank lines skipped (master/master.py:97,105; check.py:18-19); lines
  * without exactly two fields dropped, not fatal (mapper.py:79-80); node ids
  * stay strings, ordered lexicographically (master.py:218, mapper.py:39).
  *
  * The exact rule: a raw line starting with `#` is a comment; any other line
  * is trimmed of ASCII spaces only (not tabs, not NBSP) and kept iff it then
  * splits on `\t` into exactly two fields, empty ones included. The trim
  * never strips a tab, so that is "the raw line holds exactly one tab":
  * `src` is the text before it without leading spaces, `dst` the text after
  * it without trailing spaces. [[parse]] tests and cuts the raw `UTF8String`
  * so, with no `split`, which decodes each line to a `String`, splits it and
  * copies every field back into an array: ~40% of the scan's task time.
  *
  * Built on `spark.read.text` so input splits parallelize across executors;
  * the reference's driver-memory partitioning (master/master.py:91-127) is a
  * documented defect we deliberately do not reproduce.
  */
object EdgeListReader {

  private val line = col("value")
  private val comment = line.startsWith("#")
  /** Exactly one tab: a first exists, and no second (the text before a
    * second tab would be shorter than the line). */
  private val oneTab =
    instr(line, "\t") > 0 && substring_index(line, "\t", 2) === line

  /** Read a SNAP edge list into DataFrame(src: string, dst: string). */
  def read(spark: SparkSession, path: String): DataFrame =
    parse(spark.read.text(path))

  /** Parse a DataFrame with a single `value: string` column of raw lines.
    * Exposed separately so tests can drive it from literal data. */
  def parse(lines: DataFrame): DataFrame =
    lines.where(!comment && oneTab).select(
      ltrim(substring_index(line, "\t", 1)).as("src"),
      rtrim(substring_index(line, "\t", -1)).as("dst"))

  /** PERMISSIVE parse with a quarantine channel: good rows as in [[parse]],
    * plus the dropped MALFORMED lines (wrong field count, mapper.py:79-80)
    * as data instead of a log line. Comments and blanks are format, not
    * corruption, and are not quarantined. Only quarantined lines pay for the
    * `split` that counts their fields. */
  def parseWithQuarantine(lines: DataFrame): (DataFrame, DataFrame) = {
    val bad = lines.where(!comment && length(trim(line)) > 0 && !oneTab)
      .select(line.as("raw_line"), size(split(trim(line), "\t")).as("n_fields"))
    (parse(lines), bad)
  }

  def readWithQuarantine(spark: SparkSession,
                         path: String): (DataFrame, DataFrame) =
    parseWithQuarantine(spark.read.text(path))
}
