package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Citations
import graft.sources.EdgeListReader

class CitationsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  def fixturePath: String =
    getClass.getResource("/edges_tiny.txt").getPath

  lazy val edges = EdgeListReader.read(spark, fixturePath).cache()

  test("reader drops comments, blanks, malformed; keeps dups/self-cites") {
    // fixture: 10 valid edges (incl. self-citation + duplicate), 2 comments,
    // 1 blank, 1 malformed
    assert(edges.count() === 10)
  }

  test("counts match hand oracle (self-citations and duplicates counted)") {
    val got = Citations.counts(edges).as[(String, Long)].collect().toMap
    assert(got === Map("2002" -> 5L, "2003" -> 2L, "2004" -> 2L, "10" -> 1L))
  }

  test("countsViaCollect is identical to counts") {
    val a = Citations.counts(edges).as[(String, Long)].collect().toSet
    val b = Citations.countsViaCollect(edges).as[(String, Long)].collect().toSet
    assert(a === b)
  }

  test("top30 order: desc count, ascending STRING id tie-break") {
    val got = Citations.top30(Citations.counts(edges))
      .as[(Int, String, Long)].collect().toSeq
    assert(got === Seq(
      (1, "2002", 5L), (2, "2003", 2L), (3, "2004", 2L), (4, "10", 1L)))
  }

  test("string order differs from numeric order where it must") {
    // "10" < "9" lexicographically: with equal counts "10" ranks first
    val e = Seq(("a", "9"), ("b", "10")).toDF("src", "dst")
    val got = Citations.top30(Citations.counts(e))
      .as[(Int, String, Long)].collect().toSeq
    assert(got.map(_._2) === Seq("10", "9"))
  }

  test("limit boundary: exactly 30 rows at 31 distinct keys") {
    val e = (1 to 31).flatMap(i => Seq.fill(i)(("s", f"k$i%02d"))).toDF("src", "dst")
    val got = Citations.top30(Citations.counts(e)).collect()
    assert(got.length === 30)
    assert(got.head.getString(1) === "k31") // highest count first
    assert(got.last.getString(1) === "k02") // k01 (count 1) cut off
  }

  test("partition-count independence (SURVEY.md §2.3.5)") {
    val base = Citations.counts(edges).as[(String, Long)].collect().toSet
    for (k <- Seq(1, 2, 8)) {
      val got = Citations.counts(edges.repartition(k))
        .as[(String, Long)].collect().toSet
      assert(got === base, s"repartition($k) changed the result")
    }
  }

  test("sum of counts == number of valid edges") {
    val total = Citations.counts(edges)
      .agg(org.apache.spark.sql.functions.sum("citations")).first().getLong(0)
    assert(total === edges.count())
  }

  test("report layout matches the reference byte-for-byte (pinned timestamp)") {
    val rows = Citations.top30(Citations.counts(edges))
      .as[(Int, String, Long)].collect().toSeq
    val got = Citations.formatReport(rows, "2026-01-01 00:00:00")
    val expected =
      "=" * 50 + "\n" +
        "Top 30 Most Cited Papers\n" +
        "=" * 50 + "\n\n" +
        "Rank  Paper ID        Citations\n" +
        "-" * 31 + "\n" +
        "1     2002                    5\n" +
        "2     2003                    2\n" +
        "3     2004                    2\n" +
        "4     10                      1\n" +
        "\n" + "-" * 31 + "\n" +
        "Generated on: 2026-01-01 00:00:00\n"
    assert(got === expected)
  }

  test("thousands separators in report counts") {
    val got = Citations.formatReport(Seq((1, "p", 1234567L)), "t")
    assert(got.contains(" 1,234,567\n"))
  }

  test("flagship entry returns >0 rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("quarantine channel captures exactly the malformed lines (O4 log parity)") {
    val (good, bad) = EdgeListReader.readWithQuarantine(spark, fixturePath)
    assert(good.count() === edges.count()) // same keep-set as parse()
    val badRows = bad.collect().map(r => (r.getString(0), r.getInt(1)))
    // the fixture has exactly one malformed line (wrong field count)
    assert(badRows.length === 1)
    assert(badRows.head._2 !== 2)
    // quarantined lines are real input lines, not comments or blanks
    badRows.foreach { case (raw, _) =>
      assert(!raw.startsWith("#") && raw.trim.nonEmpty)
    }
    // literal lines: a 1-field and a 3-field line are quarantined with
    // their field counts; good and bad together are exactly the lines that
    // are neither comments nor blank after trimming spaces
    val lines = Seq("# c", "", "   ", "a\tb", " a \t b ", "\t", "  #x\ty",
      "solo", "a\tb\t1", "\ta\tb", "\t\t")
    val (g, b) = EdgeListReader.parseWithQuarantine(lines.toDF("value"))
    assert(b.as[(String, Int)].collect().toSet === Set(
      ("solo", 1), ("a\tb\t1", 3), ("\ta\tb", 3), ("\t\t", 3)))
    assert(g.as[(String, String)].collect().toSet ===
      Set(("a", "b"), ("a ", " b"), ("", ""), ("#x", "y")))
    assert(g.count() + b.count() ===
      lines.count(l => !l.startsWith("#") && l.exists(_ != ' ')))
  }

  test("showTop30 prints the ranked table to the console (O16)") {
    val baos = new java.io.ByteArrayOutputStream()
    Console.withOut(baos) {
      Citations.showTop30(Citations.counts(edges))
    }
    val out = baos.toString("UTF-8")
    assert(out.contains("Top 30 Most Cited Papers:"))
    assert(out.contains("rank") && out.contains("paper_id") && out.contains("citations"))
    assert(out.contains("2002") && out.contains("5"))
  }

  test("CitationReportApp writes the full report file (golden, pinned timestamp)") {
    val out = java.nio.file.Files.createTempDirectory("graft-report")
      .resolve("final_citation_counts.txt")
    CitationReportApp.run(spark, fixturePath, out.toString, "2026-01-01 00:00:00")
    val got = java.nio.file.Files.readString(out)
    val expected =
      "=" * 50 + "\n" +
        "Top 30 Most Cited Papers\n" +
        "=" * 50 + "\n\n" +
        "Rank  Paper ID        Citations\n" +
        "-" * 31 + "\n" +
        "1     2002                    5\n" +
        "2     2003                    2\n" +
        "3     2004                    2\n" +
        "4     10                      1\n" +
        "\n" + "-" * 31 + "\n" +
        "Generated on: 2026-01-01 00:00:00\n"
    assert(got === expected)
  }

  test("CitationReportApp report bytes do not depend on split or shuffle width") {
    // a multi-KB edge file: at maxPartitionBytes=256 it is read as ~20
    // splits whose boundaries fall inside lines, and each such line must be
    // read by exactly one split
    val dir = java.nio.file.Files.createTempDirectory("graft-width")
    val input = dir.resolve("edges.txt")
    val body = (0 until 1000).map { i =>
      val dst = (i * 7919 % 97) % (1 + i % 13)
      i % 50 match {
        case 0 => "# comment line " + i
        case 1 => ""
        case 2 => s"  #x$i\t$dst"
        case 3 => s"$i\t$dst\t1"
        case 4 => s"  $i \t $dst  "
        case _ => s"$i\t$dst"
      }
    }.mkString("\n")
    java.nio.file.Files.writeString(input, body + "\n")
    assert(java.nio.file.Files.size(input) > 4096)
    def report(confs: (String, String)*): String = {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val out = dir.resolve(s"report_${confs.map(_._2).mkString("_")}.txt")
        CitationReportApp.run(spark, input.toString, out.toString,
          "2026-01-01 00:00:00")
        java.nio.file.Files.readString(out)
      } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val base = report()
    assert(base.contains("1     0 "), base) // dst 0 leads: every i%13==0
    val split = "spark.sql.files.maxPartitionBytes"
    val shuffle = "spark.sql.shuffle.partitions"
    assert(spark.read.text(input.toString).rdd.getNumPartitions === 1)
    spark.conf.set(split, "256")
    try assert(spark.read.text(input.toString).rdd.getNumPartitions > 10)
    finally spark.conf.unset(split)
    assert(report(split -> "256") === base)
    for (n <- Seq(1, 4, 8)) {
      assert(report(shuffle -> n.toString) === base, s"shuffle.partitions=$n")
      assert(report(split -> "256", shuffle -> n.toString) === base,
        s"maxPartitionBytes=256, shuffle.partitions=$n")
    }
  }

  // ---- motif census: independent brute-force classifier ------------------

  /** Fresh canonical drawings, written independently of the operator's
    * table (the differential point): class name -> arc set on {0,1,2}. */
  private val motifDrawings: Map[String, Set[(Int, Int)]] = Map(
    "021D" -> Set((1, 0), (1, 2)),
    "021U" -> Set((0, 1), (2, 1)),
    "021C" -> Set((0, 1), (1, 2)),
    "111D" -> Set((0, 1), (1, 0), (2, 0)),
    "111U" -> Set((0, 1), (1, 0), (0, 2)),
    "201" -> Set((0, 1), (1, 0), (1, 2), (2, 1)),
    "030T" -> Set((0, 1), (2, 1), (0, 2)),
    "030C" -> Set((1, 0), (2, 1), (0, 2)),
    "120D" -> Set((1, 0), (1, 2), (0, 2), (2, 0)),
    "120U" -> Set((0, 1), (2, 1), (0, 2), (2, 0)),
    "120C" -> Set((0, 1), (1, 2), (0, 2), (2, 0)),
    "210" -> Set((0, 1), (1, 2), (2, 1), (0, 2), (2, 0)),
    "300" -> Set((0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0)))

  /** Brute-force census: every 3-subset of nodes, classified by trying
    * all 6 permutations against the drawings. Connected classes only. */
  private def bruteCensus(arcs: Set[(String, String)]): Map[String, Long] = {
    val es = arcs.filter { case (a, b) => a != b }
    val nodes = es.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val perms = Seq(0, 1, 2).permutations.toSeq
    val triples = for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      k <- (j + 1) until nodes.size
    } yield Seq(nodes(i), nodes(j), nodes(k))
    triples.flatMap { t =>
      val local = for {
        i <- 0 to 2; j <- 0 to 2
        if i != j && es.contains((t(i), t(j)))
      } yield (i, j)
      val ls = local.toSet
      motifDrawings.collectFirst {
        case (name, d) if perms.exists(p =>
          ls.map { case (i, j) => (p(i), p(j)) } == d) => name
      }
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }

  private def censusOf(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    Citations.motifCensus(df).as[(String, Long)].collect().toMap

  test("motif census: each canonical 3-node drawing lands in its own class") {
    motifDrawings.foreach { case (name, arcs) =>
      val df = arcs.toSeq.map { case (a, b) => (s"n$a", s"n$b") }
        .toDF("src", "dst")
      val got = censusOf(df).filter(_._2 > 0)
      assert(got === Map(name -> 1L), s"drawing $name")
    }
  }

  test("motif census == brute-force isomorphism census on an LCG graph") {
    // deterministic pseudo-random digraph: 24 nodes, ~90 arcs, with
    // enough density that mutual dyads and closed triads all appear
    val arcs = (0 until 240).map { t =>
      val a = (t * 40503 + 17) % 24
      val b = (t * t * 7919 + t) % 24
      (s"v$a", s"v$b")
    }.toSet
    val got = censusOf(arcs.toSeq.toDF("src", "dst")).filter(_._2 > 0)
    assert(got === bruteCensus(arcs))
  }

  test("motif census: dup edges and self-loops do not perturb the census") {
    val base = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "a"))
    val noisy = base ++ base ++ Seq(("a", "a"), ("c", "c"))
    val a = censusOf(base.toDF("src", "dst"))
    val b = censusOf(noisy.toDF("src", "dst"))
    assert(a === b)
    assert(a("120C") === 1L)
  }
}
