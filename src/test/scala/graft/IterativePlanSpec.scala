package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{EnsureRequirements, ShuffleExchangeExec}

import graft.operators.Citations

/** Per-round plan audit for the ITERATIVE operators — the blind spot
  * PlanAuditSpec cannot reach: each cadence checkpoint replaces lineage
  * with a `LogicalRDD`, so the blanket audit sees only the final
  * projection over an opaque RDD scan, never the join/aggregate shape a
  * round actually executes (PLANS.md concedes this for every fixpoint).
  * Every round runs through [[Fixpoint]], whose observer sees each
  * round's un-cut frame before the checkpoint replaces it; this spec
  * installs an observer with `Fixpoint.observing`, captures the executed
  * plan of ROUND 1 (whose inputs are all checkpointed scans, so the plan
  * contains exactly one round's operators), and pins the shape:
  *
  *  - no CartesianProduct, no UDFs — the same scale-killers the blanket
  *    audit bans;
  *  - the equi-join count per round is EXACT — a regression that adds a
  *    join per iteration (e.g. undoing the hits carrier-frame
  *    restructure, which cut 5 joins/round to 4) multiplies by the
  *    iteration count at 100× and fails here loudly;
  *  - BroadcastNestedLoopJoin appears exactly as many times as the
  *    documented 1-row scalar folds (pageRank's dangling mass, hits' two
  *    L2 norms) and never otherwise.
  */
class IterativePlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val sf = "/root/testdata/sf0.001"

  private def capture(run: => DataFrame): Map[Int, String] = {
    val plans = scala.collection.mutable.Map[Int, String]()
    // sparkPlan is the STATIC physical plan — stable whether or not the
    // operator's own checkpoint has already executed the round (the
    // observer fires post-cut; executedPlan would print final+initial
    // AQE sections and double-count every join). Rounds 1 and 2 are
    // captured — round 1's inputs are the initial checkpointed scans,
    // round 2's carry the previous round's scalar folds. Plan capture
    // stays job-free.
    Fixpoint.observing((i, df) =>
      if (i <= 2) plans(i) = df.queryExecution.sparkPlan.toString)(run)
    plans.toMap
  }

  private def equiJoins(plan: String): Int =
    "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(plan).size
  private def bnlj(plan: String): Int =
    "BroadcastNestedLoopJoin".r.findAllIn(plan).size

  private def auditCommon(name: String, plan: String): Unit = {
    assert(!plan.contains("CartesianProduct"), s"$name round plan has a cartesian:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"$name round plan left codegen (UDF):\n$plan")
  }

  test("pageRank round: 2 equi-joins + 1 dangling-mass fold, nothing else") {
    val e = Citations.edges(spark, sf)
    val plans = capture(Citations.pageRank(e, iterations = 2))
    val plan = plans(1)
    auditCommon("pageRank", plan)
    // contribs (edges ⋈ ranks) + carrier re-instatement (nodesWithDeg
    // left-outer contribs); the dangling mass is the single 1-row BNLJ fold
    assert(equiJoins(plan) === 2, s"pageRank round joins changed:\n$plan")
    assert(bnlj(plan) === 1, s"pageRank dangling fold changed:\n$plan")
  }

  test("kCore round: 1 degree aggregate + 2 semi-joins, no scalar folds") {
    val e = Citations.edges(spark, sf)
    val plans = capture(Citations.kCore(e))
    val plan = plans(1)
    auditCommon("kCore", plan)
    assert(equiJoins(plan) === 2, s"kCore round joins changed:\n$plan")
    assert(bnlj(plan) === 0, s"kCore grew a nested-loop join:\n$plan")
    assert(plan.contains("LeftSemi"), s"kCore peel should semi-join:\n$plan")
  }

  test("hits half-step: ONE message join + aggregate, norm fold only — sparse shape") {
    val e = Citations.edges(spark, sf)
    val plans = capture(Citations.hits(e, iterations = 2))
    // the probe fires on the authority half-step's un-cut araw frame; the
    // hub half-step is operation-identical on the transposed edge pin.
    // Round 1 reads the dense all-1 init: message join + aggregate, no
    // folds yet. The sparse restructure has NO per-round re-instatement
    // join — that is the assertion (round 8 paid 2-3 of them per round).
    auditCommon("hits", plans(1))
    assert(equiJoins(plans(1)) === 1, s"hits half-step joins changed:\n${plans(1)}")
    assert(bnlj(plans(1)) === 0, s"hits round-1 has no norms to fold:\n${plans(1)}")
    // round 2's a-half reads hub = hCut ⋈ hnorm: ONE 1-row fold over the
    // CHECKPOINTED cut, still one real join, and no join/aggregate
    // subtree appears twice (the per-half-step cut is what prevents the
    // re-execution blowup the round-cadence shapes measured: 27.9 s and
    // 36.2 s vs single-digit for this shape).
    auditCommon("hits", plans(2))
    assert(equiJoins(plans(2)) === 1, s"hits half-step joins changed:\n${plans(2)}")
    assert(bnlj(plans(2)) === 1, s"hits norm folds changed:\n${plans(2)}")
  }

  test("personalized pagerank round: the pageRank shape — 2 equi-joins + 1 dangling fold") {
    val e = Citations.edges(spark, sf)
    val plans = capture(Citations.personalizedPageRank(e, iterations = 2))
    val plan = plans(1)
    auditCommon("personalizedPageRank", plan)
    assert(equiJoins(plan) === 2, s"ppr round joins changed:\n$plan")
    assert(bnlj(plan) === 1, s"ppr dangling fold changed:\n$plan")
  }

  test("components round: message join + zip join carrying the chg flag, nothing else") {
    val e = Citations.edges(spark, sf)
    val plans = capture(Citations.components(e))
    for (r <- Seq(1, 2)) {
      auditCommon("components", plans(r))
      // min-message join (und ⋈ labels, hash-building the node-scale
      // label side) + the node-scale zip — the convergence flag rides
      // the zip's projection (no third frame, no extra join), and the
      // edge-scale message aggregate appears exactly once
      assert(equiJoins(plans(r)) === 2, s"components round joins changed:\n${plans(r)}")
      assert(bnlj(plans(r)) === 0, s"components grew a nested-loop join:\n${plans(r)}")
      assert("partial_min".r.findAllIn(plans(r)).size === 1,
        s"components round duplicated the message subtree:\n${plans(r)}")
    }
  }

  test("linkPredictRa pre-cut frame: 1 cap join, no cartesian/UDF; single edge scan") {
    val e = Citations.edges(spark, sf)
    var preCut: String = null
    Citations.linkPredictRa(e,
      preCutProbe = df => preCut = df.queryExecution.executedPlan.toString)
    auditCommon("linkPredictRa(f)", preCut)
    // the capped+weighted edge frame: edges ⋈ (deg aggregate) — one join
    assert(equiJoins(preCut) === 1, s"linkPredictRa cap frame changed:\n$preCut")
    assert(bnlj(preCut) === 0)
  }

  test("bpeMerges round: join-free explode + aggregate + bounded-heap argmax") {
    import org.apache.spark.sql.functions.{col, count, explode, length, lit, split}
    val words = Tables.load(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")).between(1, 32))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val plans = scala.collection.mutable.Map[Int, String]()
    Fixpoint.observing((r, df) =>
      if (r <= 2) plans(r) = df.queryExecution.executedPlan.toString)(
      graft.operators.TextAnalysis.bpeMergeList(words, rounds = 2))
    Seq(1, 2).foreach { r =>
      val plan = plans(r)
      auditCommon(s"bpeMerges round $r", plan)
      // the whole round is vocab-sized dataflow with NO joins at all:
      // explode pairs → map-side-combined count → top-1 as a bounded heap
      assert(equiJoins(plan) === 0, s"bpeMerges round $r grew a join:\n$plan")
      assert(bnlj(plan) === 0)
      assert(plan.contains("TakeOrderedAndProject"),
        s"bpeMerges argmax should plan as a bounded heap, not a sort:\n$plan")
      assert(plan.contains("HashAggregate"),
        s"bpeMerges pair count lost partial aggregation:\n$plan")
    }
  }

  test("lpa round: message join + label zip, ONE repartition feeding both plurality aggregates") {
    val e = Citations.edges(spark, sf)
    val plans = capture(Citations.lpa(e, rounds = 2))
    for (r <- Seq(1, 2)) {
      val plan = plans(r)
      auditCommon("lpa", plan)
      // message join (und ⋈ labels) + the left-outer label zip — and the
      // two stacked plurality aggregates run PARTITION-LOCAL off the one
      // pinned repartition (the 7.4 → 5.0 s fix). Both aggregates sit in
      // ONE exchange-free span: the plan shows the (id,label) count and
      // the min-key argmax back-to-back with no exchange between them —
      // the regression this test exists to catch is that exchange
      // reappearing (two corpus-scale shuffles per round instead of one).
      assert(equiJoins(plan) === 2, s"lpa round joins changed:\n$plan")
      assert(bnlj(plan) === 0, s"lpa grew a nested-loop join:\n$plan")
      val aggBlock = plan.split("Exchange hashpartitioning")
        .find(b => b.contains("partial_count") || b.contains("count(1)"))
      assert(aggBlock.exists(b =>
          "Aggregate".r.findAllIn(b).size >= 2 || b.contains("min(concat")),
        s"lpa plurality aggregates split across exchanges again:\n$plan")
      // total exchanges per round: the message repartition, the zip's
      // labels side (checkpoint scans report unknown partitioning), and
      // the join inputs — pinned at the measured 4 so growth fails loudly
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges <= 4, s"lpa round exchange count grew:\n$plan")
    }
  }

  test("louvain round: message join + 3 side-frame zips + sigma build, no cartesians") {
    val e = Citations.edges(spark, sf)
    val plans = capture(Citations.louvain(e, rounds = 2))
    for (r <- Seq(1, 2)) {
      val plan = plans(r)
      auditCommon("louvain", plan)
      // the lpa exchange (und ⋈ labels) + the candidate frame's three
      // equi-zips (own label, deg, Σtot) + sigma's own labels ⋈ deg
      // build = 5 equi-joins per round, all keyed — a 6th join or any
      // nested loop means a side frame stopped being equi-joinable
      assert(equiJoins(plan) === 5, s"louvain round joins changed:\n$plan")
      assert(bnlj(plan) === 0, s"louvain grew a nested-loop join:\n$plan")
      // the argmax rides the lpa min-key discipline: one aggregate pair
      // (partial + final min(concat(lpad(...)))) — no window functions
      assert(!plan.contains("Window"), s"louvain argmax became a window:\n$plan")
    }
  }

  test("bfs hop: frontier join + sigma aggregate + reached anti-join, nothing else") {
    val e = Citations.edges(spark, sf)
    val plans = capture(Citations.bfsPaths(e))
    for (r <- plans.keys.toSeq.sorted.take(2)) {
      val plan = plans(r)
      auditCommon("bfsPaths", plan)
      // e ⋈ frontier (shuffle_hash on the pinned edge partitioning) + the
      // reached anti-join; the σ sum collapses map-side
      assert(equiJoins(plan) === 2, s"bfs hop joins changed:\n$plan")
      assert(plan.contains("LeftAnti"), s"bfs reached-set check must anti-join:\n$plan")
      assert(bnlj(plan) === 0, s"bfs grew a nested-loop join:\n$plan")
    }
  }

  test("closeness wave: frontier join + distinct + reached anti-join, nothing else") {
    val e = Citations.edges(spark, sf)
    val plans = capture(Citations.closeness(e))
    for (r <- plans.keys.toSeq.sorted.take(2)) {
      val plan = plans(r)
      auditCommon("closeness", plan)
      // e ⋈ frontier (shuffle_hash on the pinned edge partitioning) + the
      // (seed, id) anti-join; the distinct collapses map-side like a sum
      assert(equiJoins(plan) === 2, s"closeness wave joins changed:\n$plan")
      assert(plan.contains("LeftAnti"), s"closeness reached-set check must anti-join:\n$plan")
      assert(bnlj(plan) === 0, s"closeness grew a nested-loop join:\n$plan")
    }
  }

  test("scc closure round: frontier join + distinct + visited anti-join, nothing else") {
    val e = Citations.edges(spark, sf)
    val plans = capture(Citations.sccPivot(e))
    for (r <- plans.keys.toSeq.sorted.take(2)) {
      val plan = plans(r)
      auditCommon("sccPivot", plan)
      // the double-step round: e2 ⋈ frontier (hop 1) + e2 ⋈ h1 (hop 2)
      // + the visited anti-join, run to the natural empty-frontier
      // fixpoint — two hops per driver round trip because the per-round
      // cost at sf0.1 is stage overhead, not data volume. Catalyst
      // pushes the anti-join below the union into BOTH hop branches and
      // h1 feeds both the union and hop 2, so the optimized round plan
      // carries 5 equi-joins (2 hops + 1 anti, anti+h1 duplicated).
      assert(equiJoins(plan) === 5, s"scc closure joins changed:\n$plan")
      assert(plan.contains("LeftAnti"), s"scc visited check must anti-join:\n$plan")
      assert(bnlj(plan) === 0, s"scc grew a nested-loop join:\n$plan")
    }
  }

  /** Round 1's physical plan with its exchanges placed (the sparkPlan
    * through `EnsureRequirements`, still job-free), and every exchange in
    * it that sits directly — through projections and filters only — on
    * a scan whose columns are `cols`. */
  private def edgeScanExchanges(cols: Seq[String])(run: => DataFrame)
  : (Int, Seq[SparkPlan]) = {
    // the first round 1 observed: for a loop run inside another loop's
    // round (sccAll's trim), that is the inner loop's
    var plan: SparkPlan = null
    Fixpoint.observing((i, df) =>
      if (i == 1 && plan == null)
        plan = EnsureRequirements().apply(df.queryExecution.sparkPlan))(run)
    def isEdgeScan(p: SparkPlan): Boolean = p match {
      case s: RDDScanExec => s.output.map(_.name) == cols
      case p: ProjectExec => isEdgeScan(p.child)
      case f: FilterExec => isEdgeScan(f.child)
      case _ => false
    }
    (plan.collect { case s: RDDScanExec if isEdgeScan(s) => s }.size,
      plan.collect { case x: ShuffleExchangeExec if isEdgeScan(x.child) => x })
  }

  test("keyed edge cuts: round 1 plans no exchange directly above the pinned edge scan") {
    // the edge frame of each loop is cut keyed on its per-round join key;
    // a cut that stops declaring that partitioning re-exchanges the full
    // edge frame every round, which is the shape this guards
    val e = Citations.edges(spark, sf)
    Seq[(String, Seq[String], () => DataFrame)](
      ("components", Seq("u", "v"), () => Citations.components(e)),
      ("lpa", Seq("u", "v"), () => Citations.lpa(e, rounds = 2)),
      ("mis", Seq("u", "v"), () => Citations.mis(e)),
      ("hits", Seq("src", "dst"), () => Citations.hits(e, iterations = 2)),
      ("sccPivot", Seq("k", "t"), () => Citations.sccPivot(e)),
      ("sccAll trim", Seq("src", "dst"), () => Citations.sccAll(e)),
      ("hyperBall", Seq("src", "dst"), () => Citations.hyperBall(e)),
      ("bfsPaths", Seq("src", "dst"), () => Citations.bfsPaths(e)),
      ("closeness", Seq("src", "dst"), () => Citations.closeness(e))
    ).foreach { case (name, cols, run) =>
      val (scans, exchanges) = edgeScanExchanges(cols)(run())
      assert(scans > 0, s"$name round 1 reads no ${cols.mkString("(", ", ", ")")} edge scan")
      assert(exchanges.isEmpty,
        s"$name round 1 re-exchanges its pinned edge frame:\n${exchanges.mkString("\n")}")
    }
  }

  test("sccLayers round: candidate join + max + level left-outer, nothing else") {
    val e = Citations.edges(spark, sf)
    val plans = capture(Citations.sccLayers(e))
    for (r <- plans.keys.toSeq.sorted.take(2)) {
      val plan = plans(r)
      auditCommon("sccLayers", plan)
      // ce ⋈ levels (shuffle_hash on the pinned condensation partitioning)
      // feeding the partial-aggregable max, then the left-outer merge back
      // onto the level frame — 2 equi-joins per round, everything else
      // projection/aggregate
      assert(equiJoins(plan) === 2, s"sccLayers round joins changed:\n$plan")
      assert(plan.contains("LeftOuter"), s"sccLayers merge must left-outer:\n$plan")
      assert(bnlj(plan) === 0, s"sccLayers grew a nested-loop join:\n$plan")
    }
  }
}
