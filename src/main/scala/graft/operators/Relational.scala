package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational breadth over the TPC-H-ish testdata tables.
  *
  * The reference has NO joins, set ops, windows, grouping sets or scalar
  * function surface (SURVEY.md §2.2 "ABSENT" rows); this module gives those
  * categories real coverage in our engine, each as a driver-verifiable
  * query with a DuckDB twin.
  *
  * Scale/parity conventions (apply to every query here):
  *   - Double aggregates are `round(x, 2)` on BOTH engines: float summation
  *     order differs across engines, so raw doubles would hash-mismatch.
  *   - Operators are SORT-FREE unless ordering is semantic (a sort feeding
  *     a LIMIT, i.e. top-k). The deterministic presentation order the
  *     verification contract needs is applied by graft.Verify from
  *     SparkEntry.verifyOrder — so the operator plans stay the ones you'd
  *     run at 100 TB (no O(input) range-shuffle sort tacked on the end).
  *   - Dimension joins (`region`, `nation`, `supplier`, `customer`-sized)
  *     are explicitly `broadcast(...)`: at 100 TB the fact side never
  *     shuffles for a dim join. Fact-fact joins (orders ⋈ lineitem) shuffle
  *     on the join key — that is the correct plan at scale, and AQE handles
  *     skew/coalescing at runtime.
  */
object Relational {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)
  private def ts(lit: String) = to_timestamp(org.apache.spark.sql.functions.lit(lit))

  /** TPC-H Q1 analogue: full-scan aggregate with partial map-side combine.
    * Only the 7 referenced columns are read (check ReadSchema in explain). */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .where(col("l_shipdate") <= ts("2000-12-01 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2)                                           AS sum_qty,
      |  round(sum(l_extendedprice), 2)                                      AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2)                   AS sum_disc_price,
      |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)     AS sum_charge,
      |  round(avg(l_quantity), 6)                                           AS avg_qty,
      |  round(avg(l_extendedprice), 6)                                      AS avg_price,
      |  round(avg(l_discount), 6)                                           AS avg_disc,
      |  count(*)                                                            AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 analogue: two fact joins + dim filter + grouped top-k.
    * customer is broadcast (dim); orders⋈lineitem shuffles on l_orderkey. */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
    val ord = t(s, d, "orders").where(col("o_orderdate") < ts("1998-01-01 00:00:00"))
    val li = t(s, d, "lineitem").where(col("l_shipdate") > ts("1998-01-01 00:00:00"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  /** TPC-H Q5 analogue: 6-table join; all dims broadcast, facts shuffle once. */
  def q5RegionRevenue(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val ord = t(s, d, "orders")
      .where(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
             col("o_orderdate") < ts("1999-01-01 00:00:00"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, d, "customer")),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  val q5Sql: String =
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** Broadcast dim-dim-fact chain: customers per region. */
  def joinBroadcastRegion(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("customers"),
           round(avg(col("c_acctbal")), 6).as("avg_acctbal"))

  val joinBroadcastRegionSql: String =
    """SELECT r_name, count(*) AS customers, round(avg(c_acctbal), 6) AS avg_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** Left-semi join: EXISTS. Only the key column of the right side ships. */
  def joinSemi(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders").where(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))

  val joinSemiSql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join: NOT EXISTS (customers with no urgent order). */
  def joinAnti(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders").where(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  val joinAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Left-outer join keeping zero-order customers (count(key) skips nulls). */
  def joinOuterOrderCounts(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           round(sum(coalesce(col("o_totalprice"), lit(0.0))), 2).as("total_spent"))

  val joinOuterOrderCountsSql: String =
    """SELECT c_custkey, count(o_orderkey) AS n_orders,
      |       round(sum(coalesce(o_totalprice, 0)), 2) AS total_spent
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** ROLLUP: hierarchical subtotals (status → priority → grand total). */
  def aggRollup(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))

  val aggRollupSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |       round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** CUBE over returnflag × linestatus. */
  def aggCube(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))

  val aggCubeSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |       round(sum(l_quantity), 2) AS qty
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** GROUPING SETS: two independent groupings + grand total in one pass. */
  def aggGroupingSets(s: SparkSession, d: String): DataFrame = {
    val (seg, name) = (col("c_mktsegment"), col("n_name"))
    t(s, d, "customer").join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupingSets(Seq(Seq(seg), Seq(name), Seq()), seg, name)
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("balance"))
  }

  val aggGroupingSetsSql: String =
    """SELECT c_mktsegment, n_name, count(*) AS n,
      |       round(sum(c_acctbal), 2) AS balance
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
      |ORDER BY c_mktsegment ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  /** Exact distinct counts (two-phase under the hood); the approx HLL
    * twin is error-bound-tested in SketchSpec (sketch internals aren't
    * cross-engine oracle-able). */
  def distinctPartsPerOrder(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
           countDistinct(col("l_suppkey")).as("n_supps"))

  val distinctPartsPerOrderSql: String =
    """SELECT l_orderkey, count(DISTINCT l_partkey) AS n_parts,
      |       count(DISTINCT l_suppkey) AS n_supps
      |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** Market-basket association mining over orders: part pairs that
    * co-occur in ≥ 3 baskets, with exact support / confidence / lift —
    * the recommendation-adjacent analytics family (Agrawal's association
    * rules, minus the multi-item closure, which at 100 TB nobody runs
    * un-pruned anyway). Shape: the (order, part) frame deduped and
    * pinned on the basket key — ONE exchange feeds both self-join sides
    * via ReuseExchange (the cocitation pattern) — with pair fan-out
    * NATURALLY capped by basket width (C(parts-per-order, 2), single
    * digits on this schema; a long-tail basket would need the cocitation
    * out-degree cap). The ≥ 3 support floor prunes the pair mass BEFORE
    * the dimension joins; per-part totals broadcast back; lift =
    * (n_ab·N)/(n_a·n_b) is exact-integer products with one division +
    * round(6) (products bounded: counts ≤ N ≤ 2^31 ⇒ products < 2^62).
    * The 1-row basket-count frame folds on via broadcast (the q6 shape,
    * PlanAuditSpec-whitelisted). */
  def basketLift(s: SparkSession, d: String): DataFrame = {
    val op = t(s, d, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
      .repartition(col("o"))
    val partN = op.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    val nOrders = op.agg(countDistinct(col("o")).as("n_orders"))
    val a = op.select(col("o"), col("p").as("part_a"))
    val b = op.select(col("o"), col("p").as("part_b"))
    val pairs = a.join(b, Seq("o")).where(col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= 3)
    pairs
      .join(broadcast(partN.select(col("p").as("part_a"), col("n_p").as("n_a"))),
        Seq("part_a"))
      .join(broadcast(partN.select(col("p").as("part_b"), col("n_p").as("n_b"))),
        Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
        round((col("n_ab") * col("n_orders")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6).as("lift"),
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 6)
          .as("confidence_ab"))
  }

  val basketLiftSql: String =
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |part_n AS (SELECT p, count(*) AS n_p FROM op GROUP BY 1),
      |n AS (SELECT count(DISTINCT o) AS n_orders FROM op),
      |pairs AS (
      |  SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_ab
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_ab,
      |  CAST(pa.n_p AS BIGINT) AS n_a, CAST(pb.n_p AS BIGINT) AS n_b,
      |  round(CAST(n_ab * n_orders AS DOUBLE) /
      |        CAST(pa.n_p * pb.n_p AS DOUBLE), 6) AS lift,
      |  round(CAST(n_ab AS DOUBLE) / CAST(pa.n_p AS DOUBLE), 6)
      |    AS confidence_ab
      |FROM pairs
      |JOIN part_n pa ON pa.p = part_a
      |JOIN part_n pb ON pb.p = part_b
      |CROSS JOIN n
      |ORDER BY part_a, part_b""".stripMargin

  /** `basket_apriori_triples` (oracled): frequent brand TRIPLES with the
    * Apriori candidate prune (Agrawal & Srikant, VLDB 1994) — the
    * multi-item closure [[basketLift]] deliberately stops short of, run
    * ONE level deeper the way anyone actually runs it at 100 TB: prune
    * candidates through the k−1 level before counting. Items are brands
    * (bounded vocabulary — partkey triples dilute to nothing past
    * sf0.01); the support floor is RELATIVE (0.1% of baskets) via exact
    * cross-multiplication `n·1000 ≥ N` — no division, no float, engine-
    * identical at every sf.
    *
    * The Apriori discipline at scale: the frequent-PAIR set L2 is
    * itemset²-bounded (≤ C(|brands|, 2) rows — a broadcastable MODEL,
    * the trainedCentroids convention), so all three sub-pair prunes run
    * as broadcast semi-joins BEFORE the triple aggregate — the
    * candidate fan-out dies before the shuffle, which is the entire
    * point of Apriori (downward closure: support(abc) ≤ support(any
    * sub-pair), spec-asserted). Output is the top-50 under the fully
    * deterministic (n_abc DESC, brands ASC) order — plans as
    * TakeOrderedAndProject; support_ppm is exact-integer
    * ⌊10⁶·n/N⌋ (positive operands — DuckDB `//` is floor here). */
  def basketAprioriTriples(s: SparkSession, d: String,
                           topK: Int = 50): DataFrame =
    basketAprioriTriplesFrom(
      t(s, d, "lineitem")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("o"), col("p_brand").as("b")),
      topK)

  /** The mining itself over any (basket `o`, item `b`) frame. */
  def basketAprioriTriplesFrom(items: DataFrame, topK: Int = 50): DataFrame = {
    // pinned for the same reason as basketRulesFrom: the basket count,
    // the L2 pair sides, and the three triple legs all read this frame
    val op = items.distinct().repartition(col("o")).localCheckpoint()
    val nOrders = op.agg(countDistinct(col("o")).as("no"))
    val pairs = op.select(col("o"), col("b").as("pa"))
      .join(op.select(col("o"), col("b").as("pb")), Seq("o"))
      .where(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_ab"))
    val l2 = pairs.crossJoin(broadcast(nOrders))
      .where(col("n_ab") * lit(1000L) >= col("no"))
      .select(col("pa"), col("pb"))
    op.select(col("o"), col("b").as("pa"))
      .join(op.select(col("o"), col("b").as("pb")), Seq("o"))
      .where(col("pa") < col("pb"))
      .join(broadcast(l2), Seq("pa", "pb"), "left_semi")
      .join(op.select(col("o"), col("b").as("pc")), Seq("o"))
      .where(col("pb") < col("pc"))
      .join(broadcast(l2.select(col("pa"), col("pb").as("pc"))),
        Seq("pa", "pc"), "left_semi")
      .join(broadcast(l2.select(col("pa").as("pb"), col("pb").as("pc"))),
        Seq("pb", "pc"), "left_semi")
      .groupBy(col("pa"), col("pb"), col("pc"))
      .agg(count(lit(1)).as("n_abc"))
      .crossJoin(broadcast(nOrders))
      .where(col("n_abc") * lit(1000L) >= col("no"))
      .select(col("pa"), col("pb"), col("pc"), col("n_abc"),
        expr("CAST((n_abc * 1000000) DIV no AS BIGINT)").as("support_ppm"))
      .orderBy(col("n_abc").desc, col("pa"), col("pb"), col("pc"))
      .limit(topK)
  }

  val basketAprioriTriplesSql: String =
    """WITH op AS (
      |  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
      |n AS (SELECT count(DISTINCT o) AS no FROM op),
      |l2 AS (
      |  SELECT a.b AS pa, bb.b AS pb
      |  FROM op a JOIN op bb ON a.o = bb.o AND a.b < bb.b
      |  GROUP BY 1, 2 HAVING count(*) * 1000 >= (SELECT no FROM n)),
      |tri AS (
      |  SELECT a.b AS pa, bb.b AS pb, c.b AS pc, count(*) AS n_abc
      |  FROM op a
      |  JOIN op bb ON a.o = bb.o AND a.b < bb.b
      |  JOIN l2 ab ON ab.pa = a.b AND ab.pb = bb.b
      |  JOIN op c ON bb.o = c.o AND bb.b < c.b
      |  JOIN l2 ac ON ac.pa = a.b AND ac.pb = c.b
      |  JOIN l2 bc ON bc.pa = bb.b AND bc.pb = c.b
      |  GROUP BY 1, 2, 3
      |  HAVING count(*) * 1000 >= (SELECT no FROM n))
      |SELECT pa, pb, pc, n_abc,
      |       CAST((n_abc * 1000000) // no AS BIGINT) AS support_ppm
      |FROM tri CROSS JOIN n
      |ORDER BY n_abc DESC, pa, pb, pc LIMIT 50""".stripMargin

  /** `basket_rules` (oracled): association RULES over the frequent-pair
    * lattice — the step [[basketLift]] (symmetric pair stats) and
    * [[basketAprioriTriples]] (itemsets) both stop short of: directed
    * a→b rules with confidence n_ab/n_a and lift n_ab·N/(n_a·n_b),
    * which is what a recommender actually serves. Same relative 0.1%
    * support floor by exact cross-multiplication; both directions of
    * every frequent pair emitted (confidence is the asymmetric part —
    * that is the point).
    *
    * Scale shape: the [[basketAprioriTriples]] discipline — one distinct
    * (basket, item) shuffle, the itemset²-bounded pair aggregate, then
    * the per-item counts fold back as a broadcast MODEL (≤ |brands|
    * rows). Confidence stays in BIGINT; lift's n_ab·N·10⁶ numerator
    * rides DECIMAL(38,0)/HUGEINT (it overflows BIGINT around N ≈ 10¹²
    * baskets — exactly the scale this engine is for), with the emitted
    * anchor ⌊·⌋ back in BIGINT ppm (the decimal-output trap). */
  def basketRules(s: SparkSession, d: String): DataFrame =
    basketRulesFrom(
      t(s, d, "lineitem")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("o"), col("p_brand").as("b")))

  /** The rule mining itself over any (basket `o`, item `b`) frame. */
  def basketRulesFrom(items: DataFrame): DataFrame = {
    // pin the distinct basket-item frame: FOUR consumers read it (both
    // pair sides, the basket count, the item counts) — unpinned, each
    // re-scans the fact table (measured: 5 FileScans → 1 at sf0.01),
    // and at 100 TB the distinct frame is itemset-bounded per basket,
    // far smaller than the scan it replaces
    val op = items.distinct().repartition(col("o")).localCheckpoint()
    val nOrders = op.agg(countDistinct(col("o")).as("no"))
    val itemN = op.groupBy(col("b")).agg(count(lit(1)).as("n_item"))
    val pairs = op.select(col("o"), col("b").as("pa"))
      .join(op.select(col("o"), col("b").as("pb")), Seq("o"))
      .where(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_both"))
      .crossJoin(broadcast(nOrders))
      .where(col("n_both") * lit(1000L) >= col("no"))
    val both = pairs
      .select(col("pa").as("antecedent"), col("pb").as("consequent"),
        col("n_both"), col("no"))
      .unionAll(pairs.select(col("pb").as("antecedent"),
        col("pa").as("consequent"), col("n_both"), col("no")))
    both
      .join(broadcast(itemN.select(col("b").as("antecedent"),
        col("n_item").as("n_ante"))), Seq("antecedent"))
      .join(broadcast(itemN.select(col("b").as("consequent"),
        col("n_item").as("n_cons"))), Seq("consequent"))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        col("n_ante"),
        expr("CAST((n_both * 1000000) DIV n_ante AS BIGINT)").as("conf_ppm"),
        expr(
          """CAST((CAST(n_both AS DECIMAL(38,0)) * no * 1000000)
            |DIV (CAST(n_ante AS DECIMAL(38,0)) * n_cons) AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("lift_ppm"))
  }

  val basketRulesSql: String =
    """WITH op AS (
      |  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
      |n AS (SELECT count(DISTINCT o) AS no FROM op),
      |itemn AS (SELECT b, count(*) AS n_item FROM op GROUP BY 1),
      |pairs AS (
      |  SELECT a.b AS pa, bb.b AS pb, count(*) AS n_both
      |  FROM op a JOIN op bb ON a.o = bb.o AND a.b < bb.b
      |  GROUP BY 1, 2 HAVING count(*) * 1000 >= (SELECT no FROM n)),
      |dirs AS (
      |  SELECT pa AS antecedent, pb AS consequent, n_both FROM pairs
      |  UNION ALL SELECT pb, pa, n_both FROM pairs)
      |SELECT antecedent, consequent, n_both, ia.n_item AS n_ante,
      |       (n_both * 1000000) // ia.n_item AS conf_ppm,
      |       CAST((n_both::HUGEINT * no * 1000000)
      |            // (ia.n_item::HUGEINT * ic.n_item) AS BIGINT) AS lift_ppm
      |FROM dirs
      |JOIN itemn ia ON ia.b = antecedent
      |JOIN itemn ic ON ic.b = consequent
      |CROSS JOIN n
      |ORDER BY antecedent, consequent""".stripMargin

  /** RFM customer segmentation — the classic marketing-analytics
    * workload: per customer, days since last order (recency, against the
    * corpus's max order date as the anchor), order count (frequency),
    * and exact-decimal total spend (monetary), each scored 1–4 against
    * the population quartiles. Quartile thresholds come from ONE
    * bounded-state scalar aggregate over the per-customer frame and fold
    * back as a 1-row broadcast; each customer's scores are codegen'd
    * threshold-comparison sums (the [[graft.operators.TextAnalysis
    * .qualityDeciles]] pattern — never an ntile over a global sort, whose
    * single-partition window is the scale bomb AND whose tie-splitting
    * is engine-arbitrary). Recency scores INVERT (fresher = higher).
    * Monetary fixes to DECIMAL(18,2) before summation (order-free exact,
    * the rolling7d rule); thresholds ride the same round(6) grid the
    * deciles oracle proved cross-engine. */
  def ordersRfm(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val anchor = o.agg(max(to_date(col("o_orderdate"))).as("anchor"))
    val cust = o.groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("m_dec"))
      .crossJoin(broadcast(anchor))
      .select(col("o_custkey"),
        datediff(col("anchor"), col("last_order")).as("recency_days"),
        col("frequency"),
        col("m_dec").cast("double").as("monetary"))
    val ths = Seq("25" -> "0.25", "50" -> "0.5", "75" -> "0.75").flatMap {
      case (n, q) => Seq(
        round(expr(s"percentile(CAST(recency_days AS DOUBLE), $q)"), 6).as(s"r$n"),
        round(expr(s"percentile(CAST(frequency AS DOUBLE), $q)"), 6).as(s"f$n"),
        round(expr(s"percentile(monetary, $q)"), 6).as(s"m$n"))
    }
    val th = cust.agg(ths.head, ths.tail: _*)
    def scoreUp(c: Column, p: String) = (lit(1) +
      Seq("25", "50", "75").map(n => (c >= col(s"$p$n")).cast("int"))
        .reduce(_ + _)).cast("int")
    def scoreDown(c: Column, p: String) = (lit(4) -
      Seq("25", "50", "75").map(n => (c >= col(s"$p$n")).cast("int"))
        .reduce(_ + _)).cast("int")
    cust.crossJoin(broadcast(th))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"),
        scoreDown(col("recency_days").cast("double"), "r").as("r_score"),
        scoreUp(col("frequency").cast("double"), "f").as("f_score"),
        scoreUp(col("monetary"), "m").as("m_score"))
      .withColumn("rfm",
        (col("r_score") * lit(100) + col("f_score") * lit(10) +
          col("m_score")).cast("int"))
  }

  val ordersRfmSql: String = {
    val ts = Seq("25" -> "0.25", "50" -> "0.5", "75" -> "0.75").flatMap {
      case (n, q) => Seq(
        s"round(quantile_cont(CAST(recency_days AS DOUBLE), $q), 6) AS r$n",
        s"round(quantile_cont(CAST(frequency AS DOUBLE), $q), 6) AS f$n",
        s"round(quantile_cont(monetary, $q), 6) AS m$n")
    }.mkString(", ")
    def up(c: String, p: String) = "1 + " +
      Seq("25", "50", "75").map(n => s"CAST($c >= $p$n AS INT)").mkString(" + ")
    def down(c: String, p: String) = "4 - (" +
      Seq("25", "50", "75").map(n => s"CAST($c >= $p$n AS INT)").mkString(" + ") + ")"
    s"""WITH anchor AS (
       |  SELECT max(CAST(o_orderdate AS DATE)) AS anchor FROM orders),
       |cust AS (
       |  SELECT o_custkey,
       |    date_diff('day', max(CAST(o_orderdate AS DATE)), anchor)
       |      AS recency_days,
       |    count(*) AS frequency,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |      AS monetary
       |  FROM orders, anchor GROUP BY 1, anchor),
       |t AS (SELECT $ts FROM cust)
       |SELECT o_custkey, CAST(recency_days AS INT) AS recency_days,
       |  CAST(frequency AS BIGINT) AS frequency, monetary,
       |  CAST(${down("CAST(recency_days AS DOUBLE)", "r")} AS INT) AS r_score,
       |  CAST(${up("CAST(frequency AS DOUBLE)", "f")} AS INT) AS f_score,
       |  CAST(${up("monetary", "m")} AS INT) AS m_score,
       |  CAST((${down("CAST(recency_days AS DOUBLE)", "r")}) * 100 +
       |       (${up("CAST(frequency AS DOUBLE)", "f")}) * 10 +
       |       (${up("monetary", "m")}) AS INT) AS rfm
       |FROM cust, t ORDER BY o_custkey""".stripMargin
  }

  /** `orders_pareto` (oracled): revenue-concentration profile — the Lorenz
    * curve by customer decile plus the exact Gini coefficient, the
    * "which customers are the business" diagnostic next to [[ordersRfm]].
    * Customers sort ascending by lifetime revenue; decile k's row carries
    * its customer count, revenue mass, and the cumulative revenue share at
    * the decile's upper edge; every row repeats the corpus Gini
    * G = 2·Σᵢ(i·xᵢ)/(n·Σx) − (n+1)/n (the rank identity — exact given
    * exact ranks and DECIMAL revenue sums).
    *
    * Scale shape: the global rank that Gini needs is NOT a global sort —
    * it is the [[graft.operators.Pipeline.sampleTokenBudget]] distributed
    * prefix sum: bucket = a monotone 1024-cell revenue band (so bucket is
    * a prefix of the sort key), per-bucket windows rank within bands, and
    * a ≤1024-row broadcast offsets table carries the cross-band cumulative
    * counts/sums. The three unpartitioned windows all run on bounded
    * frames (≤1024 bucket rows, ≤10 decile rows) — whitelisted as
    * bounded-by-construction. Arithmetic: revenue bridges the double
    * column through DECIMAL(18,2) once (the ordersRfm bridge), all sums
    * and rank·revenue products stay exact DECIMAL, and the only float ops
    * are the final share/Gini chains — identically parenthesized, round
    * (6). */
  def ordersPareto(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val mx = cust.agg(max(col("rev")).as("mx"))
    val b = cust.crossJoin(broadcast(mx))
      .withColumn("bucket", least(lit(1023),
        floor(col("rev").cast("double") * lit(1024.0) /
          col("mx").cast("double")).cast("int")))
      .select(col("o_custkey"), col("rev"), col("bucket"))
    val wOffC = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = b.groupBy(col("bucket"))
      .agg(count(lit(1)).as("b_cnt"), sum(col("rev")).as("b_rev"))
      .withColumn("cnt_off", coalesce(sum(col("b_cnt")).over(wOffC), lit(0L)))
      .withColumn("rev_off", coalesce(sum(col("b_rev")).over(wOffC),
        lit(0).cast("decimal(38,2)")))
      .select(col("bucket"), col("cnt_off"), col("rev_off"))
    val nTot = b.groupBy(col("bucket"))
      .agg(count(lit(1)).as("b_cnt"), sum(col("rev")).as("b_rev"))
      .agg(sum(col("b_cnt")).as("n"), sum(col("b_rev")).as("tr"))
    val wIn = Window.partitionBy(col("bucket"))
      .orderBy(col("rev").asc, col("o_custkey").asc)
    val ranked = b.join(broadcast(off), Seq("bucket"))
      .withColumn("rank",
        col("cnt_off") + row_number().over(wIn).cast("long"))
      .withColumn("cum", col("rev_off") +
        sum(col("rev")).over(wIn.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    ranked.crossJoin(broadcast(nTot))
      .withColumn("decile", expr("CAST(((`rank` - 1) * 10) DIV n AS INT)"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev")).as("rev_d"),
        max(col("cum")).as("cum_d"),
        sum(expr("CAST(`rank` AS DECIMAL(12,0)) * CAST(rev AS DECIMAL(18,2))"))
          .as("srx_d"),
        max(col("n")).as("n"), max(col("tr")).as("tr"))
      .withColumn("srx", sum(col("srx_d")).over(wAll))
      .select(col("decile"), col("n_customers"),
        round(col("rev_d").cast("double"), 2).as("revenue"),
        round(col("cum_d").cast("double") / col("tr").cast("double"), 6)
          .as("cum_share"),
        round((lit(2.0) * col("srx").cast("double")) /
          (col("n").cast("double") * col("tr").cast("double")) -
          (col("n").cast("double") + lit(1.0)) / col("n").cast("double"), 6)
          .as("gini"))
  }

  val ordersParetoSql: String =
    """WITH cust AS (
      |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT o_custkey, rev,
      |    row_number() OVER (ORDER BY rev ASC, o_custkey ASC) AS rank,
      |    sum(rev) OVER (ORDER BY rev ASC, o_custkey ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM cust),
      |tot AS (SELECT count(*) AS n, sum(rev) AS tr FROM r),
      |dec AS (
      |  SELECT CAST(((rank - 1) * 10) // n AS INT) AS decile,
      |    count(*) AS n_customers, sum(rev) AS rev_d, max(cum) AS cum_d,
      |    sum(CAST(rank AS DECIMAL(12,0)) * CAST(rev AS DECIMAL(18,2)))
      |      AS srx_d,
      |    max(n) AS n, max(tr) AS tr
      |  FROM r, tot GROUP BY 1),
      |g AS (SELECT *, sum(srx_d) OVER () AS srx FROM dec)
      |SELECT decile, CAST(n_customers AS BIGINT) AS n_customers,
      |  round(CAST(rev_d AS DOUBLE), 2) AS revenue,
      |  round(CAST(cum_d AS DOUBLE) / CAST(tr AS DOUBLE), 6) AS cum_share,
      |  round((2.0 * CAST(srx AS DOUBLE)) /
      |        (CAST(n AS DOUBLE) * CAST(tr AS DOUBLE)) -
      |        (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
      |FROM g ORDER BY decile""".stripMargin

  /** Running (cumulative) revenue per customer — frame-spec window. */
  def windowRunningRevenue(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
  }

  val windowRunningRevenueSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  round(sum(o_totalprice) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
      |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** Ranking window: top-2 customers by balance per market segment. */
  def windowTop2PerSegment(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    t(s, d, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= 2)
  }

  val windowTop2PerSegmentSql: String =
    """SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rn AS INT) AS rn FROM (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |         row_number() OVER (PARTITION BY c_mktsegment
      |                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      |  FROM customer) WHERE rn <= 2
      |ORDER BY c_mktsegment, rn""".stripMargin

  /** lag/lead: delta vs previous order of the same customer. */
  def windowLagDelta(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice") - lag(col("o_totalprice"), 1).over(w), 2).as("delta_prev"),
        round(lead(col("o_totalprice"), 1).over(w) - col("o_totalprice"), 2).as("delta_next"))
  }

  val windowLagDeltaSql: String =
    """SELECT o_custkey, o_orderkey,
      |  round(o_totalprice - lag(o_totalprice, 1) OVER w, 2)  AS delta_prev,
      |  round(lead(o_totalprice, 1) OVER w - o_totalprice, 2) AS delta_next
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Global top-k — plans as TakeOrderedAndProject, never a full sort. */
  def topkOrders(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)

  val topkOrdersSql: String =
    """SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin

  /** INTERSECT: rich customers who are also BUILDING-segment. */
  def setopIntersect(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    c.where(col("c_acctbal") > 5000).select(col("c_custkey"))
      .intersect(c.where(col("c_mktsegment") === "BUILDING").select(col("c_custkey")))
  }

  val setopIntersectSql: String =
    """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      |INTERSECT
      |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |ORDER BY c_custkey""".stripMargin

  /** EXCEPT: rich customers who are NOT BUILDING-segment. */
  def setopExcept(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    c.where(col("c_acctbal") > 5000).select(col("c_custkey"))
      .except(c.where(col("c_mktsegment") === "BUILDING").select(col("c_custkey")))
  }

  val setopExceptSql: String =
    """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      |EXCEPT
      |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |ORDER BY c_custkey""".stripMargin

  /** Scalar string-function surface (upper/substr/concat/length/lpad). */
  def scalarStringFuncs(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 5)).as("prefix"),
        concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"),
        length(col("p_name")).cast("int").as("name_len"),
        lpad(col("p_size").cast("string"), 3, "0").as("size_padded"))

  val scalarStringFuncsSql: String =
    """SELECT p_partkey,
      |  upper(substr(p_name, 1, 5))                  AS prefix,
      |  p_brand || '-' || p_type                     AS brand_type,
      |  CAST(length(p_name) AS INT)                  AS name_len,
      |  lpad(CAST(p_size AS VARCHAR), 3, '0')        AS size_padded
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Scalar date functions + monthly revenue rollup. */
  def scalarDateMonthly(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 2).as("revenue"))
      .withColumn("yr", year(col("month")))
      .withColumn("mo", month(col("month")))

  val scalarDateMonthlySql: String =
    """SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS revenue,
      |       CAST(EXTRACT(year FROM date_trunc('month', o_orderdate)) AS INT) AS yr,
      |       CAST(EXTRACT(month FROM date_trunc('month', o_orderdate)) AS INT) AS mo
      |FROM orders GROUP BY 1 ORDER BY month""".stripMargin

  /** Conditional aggregation (pivot by hand — portable across engines). */
  def pivotStatusByPriority(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        round(sum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(0.0)), 2).as("total_f"),
        round(sum(when(col("o_orderstatus") === "O", col("o_totalprice")).otherwise(0.0)), 2).as("total_o"),
        round(sum(when(col("o_orderstatus") === "P", col("o_totalprice")).otherwise(0.0)), 2).as("total_p"),
        count(lit(1)).as("n"))

  val pivotStatusByPrioritySql: String =
    """SELECT o_orderpriority,
      |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2) AS total_f,
      |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END), 2) AS total_o,
      |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END), 2) AS total_p,
      |  count(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Correlated-subquery shape: parts priced above their brand average.
    * Expressed as a window avg — one pass, no self-join, decorrelated by
    * construction (what Catalyst would rewrite the subquery into anyway). */
  def subqueryAboveBrandAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
    t(s, d, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
        round(avg(col("p_retailprice")).over(w), 6).as("brand_avg"))
      .where(col("p_retailprice") > col("brand_avg"))
  }

  /** TPC-H Q4 pattern: correlated EXISTS, decorrelated to a left-semi
    * join (the plan Catalyst produces for EXISTS, written directly):
    * orders in a one-quarter window having at least one lineitem that
    * shipped more than 30 days after the order date, counted by priority.
    * The semi-join probes on o_orderkey and keeps the first match per
    * order — no duplicate-then-distinct, no correlated re-execution; the
    * inequality rides the join condition so it filters DURING the probe. */
  /** TPC-H Q6 analogue (forecast revenue change): the pure
    * filter-and-aggregate scan — no join, no group key. The whole query
    * is one codegen span over the pruned 4-column scan with every
    * predicate pushed to parquet (`PushedFilters` carries the date
    * range and both numeric bounds), partial sums map-side, and a 1-row
    * exchange — at 100 TB this is I/O-bound by construction, the shape
    * the scan-pruning machinery exists for. */
  def q6ForecastRevenue(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .where(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
        col("l_shipdate") < ts("1997-01-01 00:00:00") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      // accumulate in DECIMAL so the corpus-wide sum is order-free (a
      // plain double sum's partition-nondeterministic reduce order could
      // land within a half-cent of the rounding boundary at larger sf
      // and flip the hash): each product casts to decimal(18,4) — ties
      // at the 4th decimal are unreachable from binary doubles, so both
      // engines round identically — then the exact decimal sum rounds to
      // cents and returns to double. Same discipline as events_anomaly
      // and quality_unigram_logprob.
      .agg(round(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,4)")), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  val q6Sql: String =
    """SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  def q4LateOrders(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .where(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
        col("o_orderdate") < ts("1996-04-01 00:00:00"))
    val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 30 DAYS"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  val q4LateOrdersSql: String =
    """SELECT o.o_orderpriority, count(*) AS n_orders
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin

  val subqueryAboveBrandAvgSql: String =
    """SELECT p_partkey, p_brand, p_retailprice, brand_avg FROM (
      |  SELECT p_partkey, p_brand, p_retailprice,
      |         round(avg(p_retailprice) OVER (PARTITION BY p_brand), 6) AS brand_avg
      |  FROM part)
      |WHERE p_retailprice > brand_avg ORDER BY p_partkey""".stripMargin

  /** TPC-H Q18 analogue (large-volume customers): orders whose total
    * line-item quantity exceeds a rare threshold, with their customer.
    * The aggregation runs FIRST and the HAVING filter collapses the fact
    * table to a handful of keys before any join — at 100 TB the
    * lineitem→orders join probes with the ~0.3% of orders that survive,
    * never the full fact table, and the customer side is a broadcast dim.
    * Quantities are integral, so the per-order sums are exact BIGINTs —
    * no float discipline needed. */
  def q18BigOrders(s: SparkSession, d: String): DataFrame = {
    val big = t(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
      .where(col("sum_qty") > 300)
    val o = t(s, d, "orders")
    big.join(o, big("l_orderkey") === o("o_orderkey"))
      .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("sum_qty"))
  }

  val q18Sql: String =
    """SELECT c_name, o_orderkey, round(o_totalprice, 2) AS o_totalprice, sum_qty
      |FROM (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
      |      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300) big
      |JOIN orders ON o_orderkey = big.l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** TPC-H Q13 analogue (customer order-count distribution): how many
    * customers placed k qualifying orders — INCLUDING k = 0, which is
    * the semantic point: the filter on orders must apply BEFORE the left
    * outer join (the ON-clause placement in Q13's SQL), because a WHERE
    * after the join would silently drop the zero-order customers the
    * query exists to count. Two-level aggregate on top: per-customer
    * counts shuffle on c_custkey, then the distribution re-aggregates on
    * the count itself — a log-scale key domain, a few dozen distinct
    * values, so the second exchange is negligible at any sf (the
    * degreeDistribution shape). */
  def q13OrderDistribution(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .where(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    t(s, d, "customer").select(col("c_custkey"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val q13Sql: String =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY c_count""".stripMargin

  /** TPC-H Q7 analogue (volume shipping): bilateral trade revenue between
    * two nations by ship year. The nation pair is filtered INTO both
    * broadcast dims before any join — supplier and customer rows outside
    * the two nations never reach the fact-fact shuffle, so the only
    * corpus-scale exchange (lineitem ⋈ orders) carries ~2/25ths of the
    * probe side it would naively. Revenue follows the q6 decimal
    * discipline: each product cast to DECIMAL(18,4) (ties at the 4th
    * decimal unreachable from binary doubles), summed exactly
    * (order-free), rounded once — hash-stable across engines and runs. */
  def q7VolumeShipping(s: SparkSession, d: String): DataFrame = {
    val (na, nb) = ("NATION_3", "NATION_7")
    val pair = t(s, d, "nation").where(col("n_name").isin(na, nb))
    val n1 = pair.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = pair.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    t(s, d, "lineitem")
      .where(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
             col("l_shipdate") < ts("1998-01-01 00:00:00"))
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
  }

  val q7Sql: String =
    """SELECT supp_nation, cust_nation,
      |       CAST(year(l_shipdate) AS INT) AS l_year,
      |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN (SELECT n_nationkey AS s_nk, n_name AS supp_nation FROM nation
      |      WHERE n_name IN ('NATION_3', 'NATION_7')) n1 ON s_nationkey = s_nk
      |JOIN (SELECT n_nationkey AS c_nk, n_name AS cust_nation FROM nation
      |      WHERE n_name IN ('NATION_3', 'NATION_7')) n2 ON c_nationkey = c_nk
      |WHERE supp_nation <> cust_nation
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q10 analogue (returned-item reporting): top-20 customers by
    * revenue lost to returns in one quarter. The per-customer aggregate
    * runs FIRST (one fact-fact shuffle on l_orderkey, then a re-aggregate
    * keyed by o_custkey), the top-20 plans as TakeOrderedAndProject with a
    * deterministic custkey tie-break, and only THOSE 20 rows join the
    * customer/nation dims — at 100 TB the dim join touches 20 rows, not
    * the fact table. Revenue follows the q6/q7 decimal discipline. */
  def q10ReturnedItems(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .where(col("o_orderdate") >= ts("1996-10-01 00:00:00") &&
             col("o_orderdate") < ts("1997-01-01 00:00:00"))
    t(s, d, "lineitem").where(col("l_returnflag") === "R")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_custkey").asc)
      .limit(20)
      .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        round(col("c_acctbal"), 2).as("c_acctbal"), col("n_name"))
  }

  val q10Sql: String =
    """WITH r AS (
      |  SELECT o_custkey,
      |         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R'
      |    AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      |    AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY o_custkey
      |  ORDER BY revenue DESC, o_custkey LIMIT 20)
      |SELECT c_custkey, c_name, revenue, round(c_acctbal, 2) AS c_acctbal, n_name
      |FROM r JOIN customer ON c_custkey = o_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY revenue DESC, c_custkey""".stripMargin

  /** TPC-H Q14 analogue (promotion effect): monthly share of revenue from
    * promo parts — conditional aggregation over a fact ⋈ broadcast-dim
    * join, the month key bounding the output to the date domain. Both
    * sums follow the decimal discipline (exact, order-free); the final
    * share is ONE fixed-shape double expression (cast, ×100, ÷, round 6)
    * evaluated identically by both engines. */
  def q14PromoRevenue(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("month"))
      .agg(
        sum(when(col("p_type") === "PROMO",
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("promo"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("total"))
      .select(col("month"),
        round(col("promo").cast("double") * 100 / col("total").cast("double"), 6)
          .as("promo_share"))

  val q14Sql: String =
    """WITH m AS (
      |  SELECT date_trunc('month', l_shipdate) AS month,
      |         sum(CASE WHEN p_type = 'PROMO'
      |                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo,
      |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1)
      |SELECT month,
      |       round(CAST(promo AS DOUBLE) * 100 / CAST(total AS DOUBLE), 6) AS promo_share
      |FROM m ORDER BY month""".stripMargin

  /** TPC-H Q19 analogue (discounted revenue): disjunctive brand/size/
    * quantity predicates over lineitem ⋈ part. The join stays a plain
    * equi-join on partkey (the OR block is a post-join filter, so the
    * planner keeps hash join + codegen, never a nested loop); the
    * brand/size half of each disjunct prunes the broadcast dim scan. One
    * exact decimal sum out — a 1-row frame. */
  def q19DiscountedRevenue(s: SparkSession, d: String): DataFrame = {
    val p = t(s, d, "part")
      .where((col("p_brand") === "Brand#3" && col("p_size").between(1, 15)) ||
             (col("p_brand") === "Brand#12" && col("p_size").between(1, 25)) ||
             (col("p_brand") === "Brand#21" && col("p_size").between(1, 35)))
    t(s, d, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#3" && col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#12" && col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#21" && col("l_quantity").between(20, 40)))
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
  }

  val q19Sql: String =
    """SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1  AND 20)
      |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)""".stripMargin

  /** TPC-H Q22 analogue (lapsed high-value customers): above-average-
    * balance customers with NO orders since the cutoff, by market
    * segment. (The classic "never ordered" form is degenerate on this
    * data — order coverage is total — so the anti-join predicate is the
    * recency window instead, which keeps the decorrelated-NOT-EXISTS
    * shape meaningful.) The average is NOT `avg()` over doubles
    * (partition-order nondeterministic): it is a fixed-shape double
    * division of an exact decimal sum by an exact count, broadcast as a
    * 1-row frame; membership (`c_acctbal > avg_bal`) then compares
    * identically on both engines. The recency test is a LEFT ANTI join —
    * the date filter pushed INTO the orders scan, shuffling only the
    * surviving key column. */
  def q22LostCustomers(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    val a = c.where(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
            count(lit(1)).cast("double")).as("avg_bal"))
    val recent = t(s, d, "orders")
      .where(col("o_orderdate") >= ts("2000-01-01 00:00:00"))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(a))
      .where(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"),
        round(sum(col("c_acctbal").cast("decimal(18,2)")), 2).cast("double")
          .as("total_acctbal"))
  }

  val q22Sql: String =
    """WITH a AS (
      |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS avg_bal
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT c_mktsegment, count(*) AS n_custs,
      |       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_acctbal
      |FROM customer, a
      |WHERE c_acctbal > avg_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** UNION (distinct) of two predicates — dedup across branches. */
  def setopUnion(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    c.where(col("c_acctbal") > 9000).select(col("c_custkey"))
      .union(c.where(col("c_mktsegment") === "MACHINERY").select(col("c_custkey")))
      .distinct()
  }

  val setopUnionSql: String =
    """SELECT c_custkey FROM customer WHERE c_acctbal > 9000
      |UNION
      |SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
      |ORDER BY c_custkey""".stripMargin

  /** Exact interpolated percentiles per group. Spark `percentile` and
    * DuckDB `quantile_cont` share the (1-g)*lo + g*hi interpolation on the
    * sorted values, so the doubles agree exactly — verified cross-engine.
    * (The approx sketch twin, percentile_approx, is error-bound-tested in
    * SketchSpec — sketches aren't oracle-able.) */
  def aggPercentiles(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 6).as("p99"),
        count(lit(1)).as("n"))

  val aggPercentilesSql: String =
    """SELECT o_orderpriority,
      |  round(quantile_cont(o_totalprice, 0.5), 6)  AS p50,
      |  round(quantile_cont(o_totalprice, 0.9), 6)  AS p90,
      |  round(quantile_cont(o_totalprice, 0.99), 6) AS p99,
      |  count(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** UNPIVOT (melt): wide per-flag aggregates to long (flag, metric, val)
    * rows — the inverse of the pivot surface, one narrow generate, no
    * extra shuffle beyond the aggregation. */
  def unpivotRevenue(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("qty"),
        round(sum(col("l_extendedprice")), 2).as("price"))
      .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("price")),
        "metric", "val")

  val unpivotRevenueSql: String =
    """WITH base AS (
      |  SELECT l_returnflag, round(sum(l_quantity), 2) AS qty,
      |         round(sum(l_extendedprice), 2) AS price
      |  FROM lineitem GROUP BY 1)
      |UNPIVOT base ON qty, price INTO NAME metric VALUE val
      |ORDER BY l_returnflag, metric""".stripMargin

  // ---- TPC-H analogues round 2: the remaining query shapes ---------------
  // The testdata star schema has no partsupp table and no commit/receipt
  // dates or shipmode, so Q2/Q9/Q11/Q16/Q20/Q21 are ANALOGUES: each keeps
  // the original's *query shape* (the join topology, subquery pattern and
  // aggregation structure that stress the planner) re-grounded on the
  // columns that exist — the same convention q4/q13/q22 already follow.

  /** TPC-H Q15 analogue (top supplier by quarterly revenue): a revenue
    * "view" + a scalar-max subquery joined back. The max is a 1-row global
    * aggregate (SinglePartition by construction); the join back is a
    * broadcast equality join, so the revenue frame is scanned once and
    * never re-shuffled. */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = t(s, d, "lineitem")
      .where(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
             col("l_shipdate") < ts("1996-04-01 00:00:00"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("total_revenue"))
    val best = rev.agg(max(col("total_revenue")).as("best_revenue"))
    rev.join(broadcast(best), col("total_revenue") === col("best_revenue"))
      .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  val q15Sql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey,
      |         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q17 analogue (small-quantity revenue): the correlated per-part
    * average subquery, decorrelated into ONE aggregate over the
    * brand-filtered lines and a broadcast join back on partkey — the
    * brand-filtered fact slice is scanned once per side but never
    * all-pairs. Output is a 1-row global sum. */
  def q17SmallQtyRevenue(s: SparkSession, d: String): DataFrame = {
    val brandLines = t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part").where(col("p_brand") === "Brand#23")
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
    val qtyCut = brandLines.groupBy(col("l_partkey").as("ap_partkey"))
      .agg((avg(col("l_quantity")) * lit(0.2)).as("qty_cut"))
    brandLines.join(broadcast(qtyCut), col("l_partkey") === col("ap_partkey"))
      .where(col("l_quantity") < col("qty_cut"))
      .agg(round(sum(col("l_extendedprice")) / lit(7.0), 2).as("avg_yearly"))
  }

  val q17Sql: String =
    """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#23'
      |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
      |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** TPC-H Q8 analogue (national market share): conditional-share aggregate
    * over a 5-way join — the one fact-fact shuffle is lineitem⋈orders; the
    * part slice, customer-region funnel and supplier-nation map are all
    * broadcast. Share = CASE-sum / sum in a single aggregate pass. */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val nat = t(s, d, "nation")
    val asiaCust = t(s, d, "customer")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region").where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNation = t(s, d, "supplier")
      .join(broadcast(nat.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part").where(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .join(t(s, d, "orders")
        .where(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
               col("o_orderdate") < ts("1998-01-01 00:00:00")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .withColumn("volume", col("l_extendedprice") * (lit(1) - col("l_discount")))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_5", col("volume")).otherwise(lit(0.0))) /
          sum(col("volume")), 6).as("mkt_share"))
  }

  val q8Sql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |  round(sum(CASE WHEN sn.n_name = 'NATION_5'
      |                 THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
      |        / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
      |FROM lineitem
      |JOIN part     ON l_partkey = p_partkey
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |JOIN region   ON cn.n_regionkey = r_regionkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY 1 ORDER BY o_year""".stripMargin

  /** TPC-H Q12 analogue (shipping priority classes): the CASE-sum pattern —
    * late lines (shipped >90 days after order) classified by order
    * priority in one aggregate pass over the orders⋈lineitem shuffle.
    * Counts are exact integers, so the hash compare is float-free. */
  def q12PriorityShipping(s: SparkSession, d: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(s, d, "lineitem")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(high, lit(1L)).otherwise(lit(0L))).as("high_line_count"),
           sum(when(!high, lit(1L)).otherwise(lit(0L))).as("low_line_count"))
  }

  val q12Sql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** TPC-H Q2 analogue (min-cost supplier): groupwise-min subquery. With no
    * partsupp table, the per-(part, supplier) offer price is min
    * l_extendedprice from lineitem — min/max are EXACT over doubles (no
    * accumulation), so the equality join back on the best price is
    * engine-stable without rounding. Both aggregates shuffle on partkey;
    * the best-price frame (one row per part) broadcasts back. */
  def q2MinCostSupplier(s: SparkSession, d: String): DataFrame = {
    val euroSupp = t(s, d, "supplier")
      .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region").where(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val offers = t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part").where(col("p_size") === 15)
        .select(col("p_partkey"), col("p_name"))), col("l_partkey") === col("p_partkey"))
      .join(broadcast(euroSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
        col("s_acctbal"), col("n_name"))
      .agg(min(col("l_extendedprice")).as("offer_price"))
    val best = offers.groupBy(col("p_partkey").as("bp_partkey"))
      .agg(min(col("offer_price")).as("best_price"))
    offers.join(broadcast(best),
        col("p_partkey") === col("bp_partkey") && col("offer_price") === col("best_price"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        col("p_name"), col("offer_price"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  val q2Sql: String =
    """WITH offers AS (
      |  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
      |         min(l_extendedprice) AS offer_price
      |  FROM lineitem
      |  JOIN part     ON l_partkey = p_partkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation   ON s_nationkey = n_nationkey
      |  JOIN region   ON n_regionkey = r_regionkey
      |  WHERE p_size = 15 AND r_name = 'EUROPE'
      |  GROUP BY 1, 2, 3, 4, 5, 6)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, offer_price
      |FROM offers
      |WHERE offer_price = (SELECT min(o2.offer_price) FROM offers o2
      |                     WHERE o2.p_partkey = offers.p_partkey)
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  /** TPC-H Q11 analogue (important parts): groupwise value vs a global
    * scalar cutoff. Per-part stock value (qty × price) for suppliers of
    * one region, kept when above the AVERAGE per-part value — the global
    * cutoff is a 1-row frame folded back via broadcast. TPC-H's own
    * `fraction-of-total` cut is scale-dependent (the spec divides it by
    * SF); an above-average cut keeps ~half the parts at every scale, so
    * the query stays meaningful from sf0.001 to 100 TB. Both sides of
    * the comparison are rounded to the 2-dp grid first so the predicate
    * is engine-stable. */
  def q11ImportantParts(s: SparkSession, d: String): DataFrame = {
    val regionSupp = t(s, d, "supplier")
      .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region").where(col("r_name") === "AFRICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"))
    val vals = t(s, d, "lineitem")
      .join(broadcast(regionSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(round(sum(col("l_quantity") * col("l_extendedprice")), 2).as("stock_value"))
    val cutoff = vals.agg(round(avg(col("stock_value")), 2).as("cutoff"))
    vals.crossJoin(broadcast(cutoff))
      .where(col("stock_value") > col("cutoff"))
      .select(col("p_partkey"), col("stock_value"))
  }

  val q11Sql: String =
    """WITH vals AS (
      |  SELECT l_partkey AS p_partkey,
      |         round(sum(l_quantity * l_extendedprice), 2) AS stock_value
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation   ON s_nationkey = n_nationkey
      |  JOIN region   ON n_regionkey = r_regionkey
      |  WHERE r_name = 'AFRICA'
      |  GROUP BY 1)
      |SELECT p_partkey, stock_value FROM vals
      |WHERE stock_value > (SELECT round(avg(stock_value), 2) FROM vals)
      |ORDER BY p_partkey""".stripMargin

  /** TPC-H Q16 analogue (supplier diversity per part class): DISTINCT
    * aggregation + anti-join exclusion. countDistinct plans as a two-phase
    * partial-distinct aggregate (dedup shuffles on the group key, never
    * collects per-group sets); the excluded-supplier list is a broadcast
    * anti-join. Counts are exact integers. */
  def q16SupplierPartCounts(s: SparkSession, d: String): DataFrame = {
    val excluded = t(s, d, "supplier").where(col("s_name").like("%7"))
      .select(col("s_suppkey").as("x_suppkey"))
    val parts = t(s, d, "part")
      .where(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
             col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    t(s, d, "lineitem")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("x_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  val q16Sql: String =
    """SELECT p_brand, p_type, p_size,
      |       count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** TPC-H Q9 analogue (product-line profit by nation and year): with no
    * ps_supplycost, per-line profit is revenue minus a retail-price cost
    * proxy (0.1 × p_retailprice × quantity). One fact-fact shuffle
    * (lineitem⋈orders); the part slice and supplier-nation map broadcast. */
  def q9ProfitByNation(s: SparkSession, d: String): DataFrame = {
    val redParts = t(s, d, "part").where(col("p_name").contains("red"))
      .select(col("p_partkey"), col("p_retailprice"))
    val suppNation = t(s, d, "supplier")
      .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    t(s, d, "lineitem")
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(
        col("l_extendedprice") * (lit(1) - col("l_discount")) -
          lit(0.1) * col("p_retailprice") * col("l_quantity")), 2).as("profit"))
  }

  val q9Sql: String =
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
      |  round(sum(l_extendedprice * (1 - l_discount)
      |            - 0.1 * p_retailprice * l_quantity), 2) AS profit
      |FROM lineitem
      |JOIN part     ON l_partkey = p_partkey
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY 1, 2 ORDER BY nation, o_year""".stripMargin

  /** TPC-H Q20 analogue (suppliers with excess concentration): nested
    * aggregation feeding a semi-join. The 1997-vs-total quantity split is
    * ONE conditional-sum pass over the part-filtered lines (not two
    * scans); qualifying suppkeys semi-join the region's suppliers. Both
    * comparison sides are rounded to the 2-dp grid. The cut (12% of
    * all-time volume in the single year 1997) sits just below the
    * uniform-date expectation (~14.5%), so the qualifying set stays
    * non-empty as scale grows — variance tightening pushes suppliers
    * ABOVE a below-mean cut, never to zero rows. */
  def q20ExcessSuppliers(s: SparkSession, d: String): DataFrame = {
    val smallParts = t(s, d, "part").where(col("p_name").startsWith("small"))
      .select(col("p_partkey"))
    val in1997 = col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
      col("l_shipdate") < ts("1998-01-01 00:00:00")
    val hot = t(s, d, "lineitem")
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(when(in1997, col("l_quantity")).otherwise(lit(0.0))), 2).as("qty_1997"),
           round(sum(col("l_quantity")) * lit(0.12), 2).as("qty_cut"))
      .where(col("qty_1997") > col("qty_cut"))
      .select(col("l_suppkey"))
    t(s, d, "supplier")
      .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region").where(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .join(hot, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"), col("n_name"))
  }

  val q20Sql: String =
    """WITH per_supp AS (
      |  SELECT l_suppkey,
      |    round(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |                    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |                   THEN l_quantity ELSE 0 END), 2) AS qty_1997,
      |    round(sum(l_quantity) * 0.12, 2) AS qty_cut
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE 'small%'
      |  GROUP BY 1)
      |SELECT s_name, n_name
      |FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'EUROPE'
      |  AND s_suppkey IN (SELECT l_suppkey FROM per_supp
      |                    WHERE qty_1997 > qty_cut)
      |ORDER BY s_name""".stripMargin

  /** TPC-H Q21 analogue (suppliers who kept orders waiting): the
    * EXISTS / NOT-EXISTS self-join pair. A supplier "kept an order
    * waiting" when it shipped >90 days after the order date on a
    * finished multi-supplier order AND no other supplier on that order
    * was late. Late (order, supplier) pairs are distinct'd first so the
    * count is per-order; both correlated subqueries become shuffle
    * semi-/anti-joins on orderkey. */
  def q21WaitingSuppliers(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val lateBySupp = li
      .join(t(s, d, "orders").where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select(col("l_orderkey").as("lo"), col("l_suppkey").as("ls"))
      .distinct()
    val others = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
    val lateOthers = lateBySupp.select(col("lo").as("o3"), col("ls").as("s3"))
    lateBySupp
      .join(others, col("lo") === col("o2") && col("ls") =!= col("s2"), "left_semi")
      .join(lateOthers, col("lo") === col("o3") && col("ls") =!= col("s3"), "left_anti")
      .join(broadcast(t(s, d, "supplier")), col("ls") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  val q21Sql: String =
    """WITH l1 AS (
      |  SELECT DISTINCT l_orderkey AS lo, l_suppkey AS ls
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'
      |    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |SELECT s_name, count(*) AS numwait
      |FROM l1 JOIN supplier ON ls = s_suppkey
      |WHERE EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = lo AND l2.l_suppkey <> ls)
      |  AND NOT EXISTS (SELECT 1 FROM l1 x
      |                  WHERE x.lo = l1.lo AND x.ls <> l1.ls)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  /** Window distribution functions (ntile / percent_rank / cume_dist /
    * rank / dense_rank) over a PARTITIONED window — each segment's frame
    * shuffles to its own partition, so the plan scales with the widest
    * segment, never the table. The ordering key (acctbal, custkey) is
    * unique, which makes every distribution value engine-deterministic
    * (ties would leave ntile assignment to implementation order). The
    * ratios divide small exact integers, identical doubles on both
    * engines; rounded to the 9-dp grid per the repo convention anyway. */
  def windowDistributionFuncs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    t(s, d, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        ntile(4).over(w).as("quartile"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        round(percent_rank().over(w), 9).as("pct_rank"),
        round(cume_dist().over(w), 9).as("cume"))
  }

  val windowDistributionFuncsSql: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal,
      |  CAST(ntile(4)      OVER w AS INT) AS quartile,
      |  CAST(rank()        OVER w AS INT) AS rnk,
      |  CAST(dense_rank()  OVER w AS INT) AS drnk,
      |  round(percent_rank() OVER w, 9)   AS pct_rank,
      |  round(cume_dist()    OVER w, 9)   AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Window frame bounds: first_value / nth_value / a bounded ROWS frame
    * over each customer's order history. Every frame is EXPLICIT (default
    * frames differ subtly between engines: Spark's default with ORDER BY
    * is RANGE UNBOUNDED PRECEDING..CURRENT ROW, which double-counts date
    * ties) — ROWS frames over the unique (date, orderkey) ordering are
    * tie-free and engine-identical. */
  def windowFrameBounds(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val headFrame = byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val trailing2 = byDate.rowsBetween(-2, -1)
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(first_value(col("o_totalprice")).over(headFrame), 2).as("first_price"),
        round(nth_value(col("o_totalprice"), 2).over(headFrame), 2).as("second_price"),
        round(sum(col("o_totalprice")).over(trailing2), 2).as("prev2_sum"))
  }

  val windowFrameBoundsSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  round(first_value(o_totalprice) OVER h, 2)    AS first_price,
      |  round(nth_value(o_totalprice, 2) OVER h, 2)   AS second_price,
      |  round(sum(o_totalprice) OVER t2, 2)           AS prev2_sum
      |FROM orders
      |WINDOW
      |  h  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  t2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Customer-cohort retention / lifetime-value curve — the subscription
    * analytics staple next to [[ordersRfm]]: customers cohorted by the
    * month of their FIRST order, then per (cohort, months-since-first)
    * cell the active-customer count, revenue, running cumulative revenue
    * (the LTV curve), and the retention ratio vs the cohort's birth
    * month. One row per observed (cohort, age) cell.
    *
    * Scale shape: the first-order frame is ONE per-customer aggregate;
    * the age projection is pure integer month arithmetic
    * (year·12+month, no interval semantics to disagree on); the cell
    * aggregate is partial-aggregable and collapses to a
    * calendar-bounded frame (months², ≤ ~10⁴ cells regardless of corpus
    * size), so the LTV/retention windows run on that bounded frame —
    * never the orders table. Revenue fixes to DECIMAL(18,2) BEFORE
    * summation (order-free exact — the [[ordersRfm]]/rolling7d rule)
    * and the cumulative window sums those exact decimals; retention is
    * the one double division, on the 6-dp grid. */
  def ordersCohortLtv(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val firstOrder = o.groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("fd"))
    val aged = o.join(firstOrder, Seq("o_custkey"))
      .select(col("o_custkey"), col("o_totalprice"),
        date_format(col("fd"), "yyyy-MM").as("cohort"),
        ((year(col("o_orderdate")) * 12 + month(col("o_orderdate"))) -
          (year(col("fd")) * 12 + month(col("fd")))).as("age"))
    val cells = aged.groupBy(col("cohort"), col("age"))
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
    val byAge = Window.partitionBy(col("cohort")).orderBy(col("age"))
    cells
      .withColumn("cum_revenue", sum(col("revenue")).over(byAge))
      .withColumn("retention",
        round(col("n_active").cast("double") /
          first(col("n_active")).over(byAge), 6))
      // exact DECIMAL inside; publish as DOUBLE (2-dp values convert
      // exactly) — the DuckDB client bridge renders decimals as floats,
      // so a decimal output column would hash-mismatch on "x.50" vs "x.5"
      .withColumn("revenue", col("revenue").cast("double"))
      .withColumn("cum_revenue", col("cum_revenue").cast("double"))
  }

  val ordersCohortLtvSql: String =
    """WITH f AS (
      |  SELECT o_custkey, min(o_orderdate) AS fd FROM orders GROUP BY 1),
      |aged AS (
      |  SELECT o.o_custkey, o.o_totalprice,
      |         strftime(f.fd, '%Y-%m') AS cohort,
      |         CAST((year(o.o_orderdate) * 12 + month(o.o_orderdate))
      |            - (year(f.fd) * 12 + month(f.fd)) AS INT) AS age
      |  FROM orders o JOIN f USING (o_custkey)),
      |cells AS (
      |  SELECT cohort, age,
      |         count(DISTINCT o_custkey)::BIGINT AS n_active,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
      |  FROM aged GROUP BY 1, 2)
      |SELECT cohort, age, n_active, CAST(revenue AS DOUBLE) AS revenue,
      |       CAST(sum(revenue) OVER (PARTITION BY cohort ORDER BY age)
      |            AS DOUBLE) AS cum_revenue,
      |       round(CAST(n_active AS DOUBLE) /
      |             first_value(n_active) OVER (PARTITION BY cohort
      |                                         ORDER BY age), 6)
      |         AS retention
      |FROM cells ORDER BY cohort, age""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_percentiles" -> (aggPercentiles _),
    "unpivot_revenue" -> (unpivotRevenue _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "join_broadcast_region" -> (joinBroadcastRegion _),
    "join_semi" -> (joinSemi _),
    "join_anti" -> (joinAnti _),
    "join_outer_order_counts" -> (joinOuterOrderCounts _),
    "agg_rollup" -> (aggRollup _),
    "agg_cube" -> (aggCube _),
    "agg_grouping_sets" -> (aggGroupingSets _),
    "distinct_parts_per_order" -> (distinctPartsPerOrder _),
    "basket_lift" -> (basketLift _),
    "basket_apriori_triples" -> ((s, d) => basketAprioriTriples(s, d)),
    "basket_rules" -> ((s, d) => basketRules(s, d)),
    "orders_rfm" -> (ordersRfm _),
    "orders_cohort_ltv" -> (ordersCohortLtv _),
    "orders_pareto" -> (ordersPareto _),
    "window_running_revenue" -> (windowRunningRevenue _),
    "window_top2_per_segment" -> (windowTop2PerSegment _),
    "window_lag_delta" -> (windowLagDelta _),
    "topk_orders" -> (topkOrders _),
    "setop_intersect" -> (setopIntersect _),
    "setop_except" -> (setopExcept _),
    "setop_union" -> (setopUnion _),
    "scalar_string_funcs" -> (scalarStringFuncs _),
    "scalar_date_monthly" -> (scalarDateMonthly _),
    "pivot_status_by_priority" -> (pivotStatusByPriority _),
    "subquery_above_brand_avg" -> (subqueryAboveBrandAvg _),
    "q4_late_orders" -> (q4LateOrders _),
    "q18_big_orders" -> (q18BigOrders _),
    "q13_order_distribution" -> (q13OrderDistribution _),
    "q7_volume_shipping" -> (q7VolumeShipping _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q19_discounted_revenue" -> (q19DiscountedRevenue _),
    "q22_lost_customers" -> (q22LostCustomers _),
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q8_market_share" -> (q8MarketShare _),
    "q9_profit_by_nation" -> (q9ProfitByNation _),
    "q11_important_parts" -> (q11ImportantParts _),
    "q12_priority_shipping" -> (q12PriorityShipping _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q16_supplier_part_counts" -> (q16SupplierPartCounts _),
    "q17_small_qty_revenue" -> (q17SmallQtyRevenue _),
    "q20_excess_suppliers" -> (q20ExcessSuppliers _),
    "q21_waiting_suppliers" -> (q21WaitingSuppliers _),
    "window_distribution_funcs" -> (windowDistributionFuncs _),
    "window_frame_bounds" -> (windowFrameBounds _)
  )

  val oracles: Map[String, String] = Map(
    "agg_percentiles" -> aggPercentilesSql,
    "unpivot_revenue" -> unpivotRevenueSql,
    "q1_pricing_summary" -> q1Sql,
    "q3_shipping_priority" -> q3Sql,
    "q6_forecast_revenue" -> q6Sql,
    "q5_region_revenue" -> q5Sql,
    "join_broadcast_region" -> joinBroadcastRegionSql,
    "join_semi" -> joinSemiSql,
    "join_anti" -> joinAntiSql,
    "join_outer_order_counts" -> joinOuterOrderCountsSql,
    "agg_rollup" -> aggRollupSql,
    "agg_cube" -> aggCubeSql,
    "agg_grouping_sets" -> aggGroupingSetsSql,
    "distinct_parts_per_order" -> distinctPartsPerOrderSql,
    "basket_lift" -> basketLiftSql,
    "basket_apriori_triples" -> basketAprioriTriplesSql,
    "basket_rules" -> basketRulesSql,
    "orders_rfm" -> ordersRfmSql,
    "orders_cohort_ltv" -> ordersCohortLtvSql,
    "orders_pareto" -> ordersParetoSql,
    "window_running_revenue" -> windowRunningRevenueSql,
    "window_top2_per_segment" -> windowTop2PerSegmentSql,
    "window_lag_delta" -> windowLagDeltaSql,
    "topk_orders" -> topkOrdersSql,
    "setop_intersect" -> setopIntersectSql,
    "setop_except" -> setopExceptSql,
    "setop_union" -> setopUnionSql,
    "scalar_string_funcs" -> scalarStringFuncsSql,
    "scalar_date_monthly" -> scalarDateMonthlySql,
    "pivot_status_by_priority" -> pivotStatusByPrioritySql,
    "subquery_above_brand_avg" -> subqueryAboveBrandAvgSql,
    "q4_late_orders" -> q4LateOrdersSql,
    "q18_big_orders" -> q18Sql,
    "q13_order_distribution" -> q13Sql,
    "q7_volume_shipping" -> q7Sql,
    "q10_returned_items" -> q10Sql,
    "q14_promo_revenue" -> q14Sql,
    "q19_discounted_revenue" -> q19Sql,
    "q22_lost_customers" -> q22Sql,
    "q2_min_cost_supplier" -> q2Sql,
    "q8_market_share" -> q8Sql,
    "q9_profit_by_nation" -> q9Sql,
    "q11_important_parts" -> q11Sql,
    "q12_priority_shipping" -> q12Sql,
    "q15_top_supplier" -> q15Sql,
    "q16_supplier_part_counts" -> q16Sql,
    "q17_small_qty_revenue" -> q17Sql,
    "q20_excess_suppliers" -> q20Sql,
    "q21_waiting_suppliers" -> q21Sql,
    "window_distribution_funcs" -> windowDistributionFuncsSql,
    "window_frame_bounds" -> windowFrameBoundsSql
  )
}
