package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.operators.Citations
import graft.sources.EdgeListReader

/** Property-based tests (SURVEY.md §5.2): random edge multisets against an
  * in-memory Scala oracle. Small id alphabet on purpose — it forces
  * duplicate edges, self-citations, and count ties. */
object CitationProps extends Properties("Citations") {

  private lazy val spark = SparkTestBase.spark

  // Spark jobs per case are ~100ms; keep the case count modest.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private val idGen: Gen[String] =
    Gen.chooseNum(0, 25).map(_.toString) // "0".."25": string order != numeric

  private val edgesGen: Gen[List[(String, String)]] =
    Gen.listOf(Gen.zip(idGen, idGen)).map(_.take(300))

  private def toDf(es: List[(String, String)]) = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  private def oracle(es: List[(String, String)]): Map[String, Long] =
    es.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }

  property("counts == in-memory group-count oracle") = forAll(edgesGen) { es =>
    import spark.implicits._
    val got = Citations.counts(toDf(es)).as[(String, Long)].collect().toMap
    got == oracle(es)
  }

  property("salted counts == plain counts on random multisets") =
    forAll(edgesGen) { es =>
      import spark.implicits._
      val plain = Citations.counts(toDf(es)).as[(String, Long)].collect().toSet
      val salted = Citations.countsSalted(toDf(es)).as[(String, Long)]
        .collect().toSet
      salted == plain
    }

  property("result invariant under repartition(k)") =
    forAll(edgesGen, Gen.oneOf(1, 2, 5, 8)) { (es, k) =>
      import spark.implicits._
      val base = Citations.counts(toDf(es)).as[(String, Long)].collect().toSet
      val re = Citations.counts(toDf(es).repartition(k))
        .as[(String, Long)].collect().toSet
      re == base
    }

  property("top30 is a prefix of the full (-count, id) order") =
    forAll(edgesGen) { es =>
      import spark.implicits._
      val full = oracle(es).toSeq.sortBy { case (id, n) => (-n, id) }
      val got = Citations.top30(Citations.counts(toDf(es)))
        .as[(Int, String, Long)].collect().toSeq
      got.map(r => (r._2, r._3)) == full.take(30) &&
        got.map(_._1) == (1 to math.min(30, full.size))
    }

  private val lineGen: Gen[String] = Gen.frequency(
    6 -> Gen.zip(idGen, idGen).map { case (a, b) => s"$a\t$b" },
    1 -> Gen.const(""),
    1 -> Gen.const("   "),
    1 -> idGen.map(i => s"# comment $i"),
    1 -> idGen.map(i => s"$i"), // malformed: one field
    1 -> Gen.zip(idGen, idGen, idGen).map { case (a, b, c) => s"$a\t$b\t$c" })

  property("reader keeps exactly the well-formed 2-field lines") =
    forAll(Gen.listOf(lineGen).map(_.take(300))) { lines =>
      import spark.implicits._
      val expected = lines
        .filter(l => !l.startsWith("#") && l.trim.nonEmpty)
        .map(_.trim.split("\t", -1))
        .filter(_.length == 2)
        .map(f => (f(0), f(1)))
      val got = EdgeListReader.parse(lines.toDF("value"))
        .as[(String, String)].collect().toList
      got.sorted == expected.sorted
    }

  // The reader's exact rule, pinned where Java's `trim` (which also strips
  // tabs) cannot: padded and empty fields, lone tabs, a `#` behind leading
  // spaces, NBSP / full-width-space padding and non-ASCII ids. The oracle
  // mirrors perfbench/gen.py:expected_report — drop raw `#` lines, strip
  // ASCII spaces only, keep lines that split into exactly two fields.
  private val rawIdGen: Gen[String] = Gen.frequency(
    4 -> idGen,
    1 -> Gen.const(""),
    1 -> Gen.oneOf("\u00e9t\u00e9", "\u4e2d\u6587", "\u00a0" + "7",
      "8" + "\u3000", "\u00a0"))
  private val fieldGen: Gen[String] = for {
    pre <- Gen.oneOf("", " ", "  ")
    id <- rawIdGen
    post <- Gen.oneOf("", " ", "  ")
  } yield pre + id + post
  private val rawLineGen: Gen[String] = Gen.frequency(
    6 -> Gen.listOfN(2, fieldGen).map(_.mkString("\t")),
    2 -> Gen.listOfN(3, fieldGen).map(_.mkString("\t")),
    1 -> fieldGen,
    1 -> Gen.oneOf("\t", "\t\t", "a\t", "\tb", "a\tb\t", "\ta\tb", "  #x\ty",
      "#\tz", " ", ""))

  property("reader keeps exactly the lines of two fields after a space-only trim") =
    forAll(Gen.listOf(rawLineGen).map(_.take(300))) { lines =>
      import spark.implicits._
      def stripSpaces(l: String) = l.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val expected = lines
        .filter(l => !l.startsWith("#"))
        .map(l => stripSpaces(l).split("\t", -1))
        .filter(_.length == 2)
        .map(f => (f(0), f(1)))
      val got = EdgeListReader.parse(lines.toDF("value"))
        .as[(String, String)].collect().toList
      got.sorted == expected.sorted
    }

  // k-truss: random multigraphs (dups/self-loops forced by the small
  // alphabet) against an in-memory common-neighbor peel — soundness,
  // maximality, and per-edge supports all pinned by set equality with
  // the fixpoint of the same monotone operator.
  private def trussOracle(es: List[(String, String)], k: Int)
      : Map[(String, String), Int] = {
    var e = es.filter(p => p._1 != p._2)
      .map(p => if (p._1 < p._2) p else (p._2, p._1)).toSet
    def sup(cur: Set[(String, String)]): Map[(String, String), Int] = {
      val nbr = cur.toSeq.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      cur.iterator.map { case (a, b) => (a, b) -> (nbr(a) & nbr(b)).size }.toMap
    }
    var done = false
    while (!done) {
      // NOT `.collect { case (p, s) if ... => p }.toSet`: on a Map a
      // pair-producing collect REBUILDS A MAP keyed by p._1, silently
      // collapsing edges that share a low endpoint (found the hard way —
      // the property falsified against a CORRECT operator)
      val next = sup(e).filter(_._2 >= k - 2).keySet
      done = next == e
      e = next
    }
    sup(e)
  }

  property("kTruss(k=3) == in-memory peel fixpoint with supports") =
    forAll(edgesGen) { es =>
      import spark.implicits._
      val got = Citations.kTruss(toDf(es), k = 3, rounds = 60)
        .as[(String, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3.toInt).toMap
      got == trussOracle(es, 3)
    }

}
