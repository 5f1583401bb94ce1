package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Blocks, Fixpoint, Tables}

/** Citation analysis — the reference's entire workload, Spark-first.
  *
  * The reference computes the in-degree of a citation graph in three hand
  * rolled passes (partial count worker/mapper/mapper.py:69-80, heap merge
  * worker/reducer/reducer.py:61-108, final re-sum master/master.py:193-204).
  * In Spark that is ONE `groupBy().count()` — partial aggregation, the
  * shuffle, and the final merge are all inside `HashAggregateExec`, and the
  * map→reduce barrier is the exchange. Nothing to hand-schedule.
  *
  * Scale notes (100 TB): the count shuffles only (dst, partial_count) pairs —
  * map-side combine collapses the edge list to distinct keys per partition
  * before the exchange. Top-30 is planned as `TakeOrderedAndProject` (per
  * partition bounded heap, 30-row heads merged on the driver), NOT the
  * reference's global full sort (master/master.py:218).
  */
object Citations {

  /** Size-conditional probe side for a per-round join against a PINNED
    * frame (guide §3.1: broadcast the side that fits, deliberately).
    *
    * The iterative loops probe their pinned edge frame with a node-scale
    * frame each round. A `shuffle_hash` hint is right at corpus scale
    * (the node frame is far over the broadcast cap, and hash-building
    * node-scale beats re-sorting edge-scale), but at small scale it
    * forces a co-partition shuffle of the probe side into the pinned
    * frame's (few) partitions — while the pinned side, needing no
    * exchange, leaves AQE no shuffle stage from which to do its usual
    * runtime small-side broadcast conversion. Measured at sf0.1:
    * citation_pagerank 9.16 s (pinned + shuffle_hash) vs 5.92 s (AQE
    * broadcast shape). So make the choice explicitly and
    * deterministically from a size the operator already paid for (a row
    * count × 64, or a checkpoint's block bytes): broadcast when `bytes`
    * is under the session's `autoBroadcastJoinThreshold` (read with its
    * sign and unit; ≤ 0 never broadcasts), shuffle-hash otherwise.
    * Results are identical either way (same join rows; aggregate order
    * is already plan-dependent and both engines round to the published
    * grid). */
  private[graft] def probeSide(df: DataFrame, bytes: Long): DataFrame = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold > 0 && bytes < threshold) broadcast(df)
    else df.hint("shuffle_hash")
  }

  /** Edge projection of the driver testdata: "order cites part" — one edge
    * per lineitem. Ids cast to string to preserve the reference's
    * lexicographic key semantics (SURVEY.md §2.3.3). */
  def edges(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "lineitem").select(
      col("l_orderkey").cast("string").as("src"),
      col("l_partkey").cast("string").as("dst"))

  /** O6–O10 collapsed: citations per paper. */
  def counts(edges: DataFrame): DataFrame =
    edges
      .groupBy(col("dst").as("paper_id"))
      .agg(count(lit(1)).as("citations"))

  /** check.py's alternate formulation (SURVEY.md O15): group-to-list, then
    * take the size. Same result as `counts`; kept as a differential twin. */
  def countsViaCollect(edges: DataFrame): DataFrame =
    edges
      .groupBy(col("dst").as("paper_id"))
      .agg(size(collect_list(col("src"))).cast("long").as("citations"))

  /** Skew-safe twin of [[counts]]: two-stage salted aggregation. A paper
    * cited by a large fraction of the corpus makes its (dst) shuffle key
    * hot; salting by a hash of the OTHER endpoint splits that key across
    * `buckets` partial groups, so no single reducer sees more than
    * ~1/buckets of a hot key before the (tiny) second-stage re-sum.
    * Identical result to [[counts]] by construction — same DuckDB oracle. */
  def countsSalted(edges: DataFrame, buckets: Int = 16): DataFrame =
    edges
      .withColumn("salt", pmod(xxhash64(col("src")), lit(buckets)))
      .groupBy(col("dst"), col("salt"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("dst").as("paper_id"))
      .agg(sum(col("c")).as("citations"))

  /** O11–O13: desc count, ascending string id tie-break (the master's
    * deterministic order, master/master.py:218 — NOT check.py's unstable
    * one, SURVEY.md §2.3.2), top 30, 1-based rank. */
  def top30(counts: DataFrame): DataFrame = {
    val ordered = counts
      .orderBy(col("citations").desc, col("paper_id").asc)
      .limit(30)
    // Rank over 30 collected rows: the single-partition window is applied
    // AFTER the limit, so it never sees more than k rows.
    val w = Window.orderBy(col("citations").desc, col("paper_id").asc)
    ordered
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("paper_id"), col("citations"))
  }

  /** O14: the formatted report (master/master.py:206-224 layout — `=`×50
    * header, `%-6s%-15s%10s` columns with thousands separators, `-`×31
    * rules, timestamp footer). Driver-side string work on ≤30 rows; the
    * timestamp is injectable so golden tests can pin it. */
  def formatReport(top: Seq[(Int, String, Long)],
                   generatedOn: String): String = {
    // Locale pinned to US so the thousands separator is ',' on any JVM,
    // and literal '\n' (not '%n') so the bytes don't depend on the OS.
    val loc = java.util.Locale.US
    val sb = new StringBuilder
    sb.append("=" * 50).append('\n')
    sb.append("Top 30 Most Cited Papers\n")
    sb.append("=" * 50).append("\n\n")
    sb.append("%-6s%-15s%10s\n".formatLocal(loc, "Rank", "Paper ID", "Citations"))
    sb.append("-" * 31).append('\n')
    top.foreach { case (rank, id, n) =>
      val withSep = "%,d".formatLocal(loc, n)
      sb.append("%-6s%-15s%10s\n".formatLocal(loc, rank.toString, id, withSep))
    }
    sb.append('\n').append("-" * 31).append('\n')
    sb.append(s"Generated on: $generatedOn\n")
    sb.toString
  }

  /** In-degree histogram: how many papers have k citations — the degree
    * distribution of the citation graph (two cheap aggregations; second
    * groupBy key is the count itself, ~log-many distinct values). */
  def degreeDistribution(edges: DataFrame): DataFrame =
    counts(edges)
      .groupBy(col("citations"))
      .agg(count(lit(1)).as("n_papers"))

  /** Co-citation: pairs of papers cited BY the same source, with the pair
    * count — the classic similarity signal on citation graphs. The pair
    * expansion is quadratic in a source's out-degree, so sources above
    * `maxOutDegree` are dropped FIRST (a hub citing 10k papers would emit
    * 50M pairs; the cap makes the blow-up impossible by construction and
    * is part of the operator contract, mirrored in the oracle). Top-20
    * pairs via TakeOrderedAndProject. */
  def coCitationTopk(edges: DataFrame, maxOutDegree: Int = 100): DataFrame = {
    val ok = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
      .where(col("deg") <= maxOutDegree)
      .select(col("src"))
    // Pin ONE exchange for both self-join sides: repartition(src) is the
    // exact partitioning the join needs, and the two sides are then the
    // IDENTICAL plan subtree, so ReuseExchange computes the filtered edge
    // frame (degree-cap aggregate included) once instead of twice — the
    // same pattern as Dedup.bandKeys.
    val f = edges.join(ok, Seq("src")).repartition(col("src"))
    val a = f.select(col("src"), col("dst").as("paper_a"))
    val b = f.select(col("src"), col("dst").as("paper_b"))
    // keep the self-join a shuffle join: broadcast would rebuild the
    // filtered-edge subtree for the build side, and the fact-sized sides
    // rule broadcast out at real scale anyway
    a.hint("shuffle_hash").join(b, Seq("src")).where(col("paper_a") < col("paper_b"))
      .groupBy(col("paper_a"), col("paper_b"))
      .agg(count(lit(1)).as("n_co"))
      .orderBy(col("n_co").desc, col("paper_a"), col("paper_b"))
      .limit(20)
  }

  /** Triangle count + global clustering coefficient of the (undirected)
    * citation graph — the standard degree-orientation algorithm (Schank &
    * Wagner 2005; the MapReduce formulation is Suri & Vassilvitskii,
    * WWW'11): orient every undirected edge from its lower-degree endpoint
    * to its higher-degree one (ties by id), generate wedges only from the
    * ORIENTED out-edges, and close each wedge against the undirected edge
    * set. Orientation is what makes this scale: a node's oriented
    * out-degree is O(√m) regardless of its raw degree, so a celebrity
    * paper cited by half the corpus contributes wedges bounded by the
    * graph's arboricity instead of deg² — without it the wedge join is a
    * scale bomb at the first hot node.
    *
    * Shape at 100 TB: dedup to undirected edges (one shuffle on the
    * canonical pair), two degree joins, then a self-join on the shared
    * low endpoint — `repartition(u)` pins ONE exchange feeding both wedge
    * sides (ReuseExchange, same pattern as [[coCitationTopk]]) — and one
    * final join probing the closing edge. Every join key is a node id;
    * nothing is ever quadratic in a node's raw degree.
    *
    * The wedge count Σ d(d-1)/2 and the triangle count are exact
    * integers, so the derived clustering coefficient 3T/W rounds
    * identically across engines. Both come from ONE global aggregate over
    * the tagged union of triangle rows and degree rows: one
    * single-partition exchange, no second degree shuffle, no cross join. */
  /** Shared triangle machinery: the degree table and the
    * closed-triangle row set (u, v1, v2) — one row per triangle,
    * vertices NOT yet exploded. See [[citationTriangles]] for the
    * orientation scale argument. */
  private def triangleRows(edges: DataFrame): (DataFrame, DataFrame) =
    orientedTriangles(undirected(edges))

  /** Both orientations of the non-loop edges, deduped, as a keyed cut on
    * `u`, the key the undirected loops (lpa, mis, louvain) join and group
    * on. The dedup is the cut's shape step, so it runs inside the cut's
    * own exchange: one shuffle. */
  private def undirectedByU(edges: DataFrame): DataFrame = {
    val e = edges.where(col("src") =!= col("dst"))
    val both = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
    Blocks.cut(both, Seq("u"))(_.distinct())
  }

  /** The non-loop edges, deduped, as a keyed cut on `src`, the key the
    * directed loops (hyperball, scc_all, bfs_paths, betweenness,
    * closeness, node2vec) join on: the directed twin of
    * [[undirectedByU]], one shuffle for the dedup and the cut. */
  private def directedBySrc(edges: DataFrame): DataFrame =
    Blocks.cut(edges.where(col("src") =!= col("dst")), Seq("src"))(_.distinct())

  /** The node set of an edge frame: every `src` and `dst`, deduped, as
    * `id`. */
  private def nodeIds(e: DataFrame): DataFrame =
    e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()

  /** The canonical undirected edge set (a < b, deduped, self-loops
    * dropped), cut once with an eager plain checkpoint: every consumer
    * re-reads it (degree aggregate and joins, wedge sides, closing-edge
    * probe, peel semi-joins), and without the cut each would re-scan the
    * source and re-run the dedup exchange. No consumer keys on its
    * `(a, b)` layout, so it is not a keyed cut ([[graft.Blocks.cut]]).
    * The harness sweeps the block between queries; the peels release
    * it via graft.Blocks. */
  private def undirected(edges: DataFrame): DataFrame =
    edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint()

  /** Degree table + closed-triangle rows (u, v1, v2) over an
    * already-canonical edge set (a < b, deduped, checkpointed by
    * the caller — every branch here re-reads it). Factored out of
    * [[triangleRows]] so iterative edge-peeling ([[kTruss]]) can re-run
    * the degree-oriented wedge enumeration per round on its shrinking
    * edge frame; the orientation argument (celebrity out-degree bounded
    * by arboricity, see [[citationTriangles]]) holds unchanged on any
    * subgraph. */
  private def orientedTriangles(u: DataFrame): (DataFrame, DataFrame) = {
    val deg = u.select(col("a").as("n")).unionAll(u.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val lowFirst = deg.select(col("n").as("a"), col("d").as("da"))
    val highFirst = deg.select(col("n").as("b"), col("d").as("db"))
    val aIsLow = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = u.join(lowFirst, Seq("a")).join(highFirst, Seq("b"))
      .select(when(aIsLow, col("a")).otherwise(col("b")).as("u"),
        when(aIsLow, col("b")).otherwise(col("a")).as("v"))
      .repartition(col("u"))
    val e1 = oriented.select(col("u"), col("v").as("v1"))
    val e2 = oriented.select(col("u"), col("v").as("v2"))
    val wedges = e1.hint("shuffle_hash").join(e2, Seq("u"))
      .where(col("v1") < col("v2"))
    // a wedge (v1 < v2) closes iff {v1,v2} is an undirected edge, and u's
    // rows are already canonical (a < b) — so the probe is an equi-join
    val tri = wedges.join(u,
      wedges("v1") === u("a") && wedges("v2") === u("b"), "left_semi")
    (deg, tri)
  }

  /** Per-edge triangle support over a canonical checkpointed edge set: each
    * closed triangle (u, v1, v2) credits its three edges, re-canonicalized
    * (u is the low-DEGREE endpoint, not the low id). Integer counts —
    * no float discipline anywhere in the truss family. */
  private def edgeSupport(u: DataFrame): DataFrame = {
    val (_, tri) = orientedTriangles(u)
    tri.select(explode(array(
        struct(least(col("u"), col("v1")).as("a"),
          greatest(col("u"), col("v1")).as("b")),
        struct(least(col("u"), col("v2")).as("a"),
          greatest(col("u"), col("v2")).as("b")),
        struct(col("v1").as("a"), col("v2").as("b")))).as("t"))
      .select(col("t.a").as("a"), col("t.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
  }

  /** k-truss: the maximal subgraph in which every edge lies on at least
    * k-2 triangles WITHIN the subgraph (Cohen 2008) — the edge-peeling
    * analogue of [[kCore]]'s vertex peel, and the standard cohesive-
    * community primitive one notch stronger than connected components.
    *
    * Each round recomputes per-edge support on the surviving edge set via
    * the degree-oriented wedge join ([[orientedTriangles]] — arboricity-
    * bounded, never deg² on a hot node) and drops under-supported edges;
    * edges on zero triangles vanish for free (inner-aggregate semantics:
    * they never appear in the support table). The edge set shrinks
    * monotonically, so cut-count equality IS set equality, and the loop
    * is convergence-or-throw: `rounds` caps the support recomputations,
    * the one that confirms the fixpoint included.
    *
    * Returns the surviving edges with their in-truss support — recomputed
    * once on the converged (checkpointed) frame, so the returned plan is
    * one bounded wedge join over a LogicalRDD, not `rounds` of stacked
    * lineage. Scale: per round one dedup-free degree aggregate + the
    * oriented wedge join; every exchange keys on a node id or a canonical
    * edge pair. */
  def kTruss(edges: DataFrame, k: Int = 3, rounds: Int = 6): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val e0 = undirected(edges)
    val (e, _, _) = Fixpoint.converge("kTruss", rounds, (e0, e0.count(), false))(_._3) {
      case (r, (e, prevEdges, _)) =>
        val (cut, m) = r.cut(edgeSupport(e)
          .where(col("support") >= k - 2)
          .select(col("a"), col("b")), count(lit(1)))
        val n = m.getLong(0) // = edge-set equality (monotone)
        (cut, n, n == prevEdges)
    }
    edgeSupport(e)
  }

  /** `citation_hyperball` (rows-only): approximate h-hop in-neighborhood
    * size for EVERY node at once — HyperBall (Boldi & Vigna 2013), the
    * neighborhood-function estimator that made billion-node distance
    * profiles tractable: one HLL sketch per node, each round unioning
    * every in-neighbor's sketch, so after h rounds sketch(v) holds
    * {u : dist(u→v) ≤ h} within HLL error. The sketch family's
    * mergeable-rollup discipline ([[Sketches.distinctUsersMerge]])
    * composed onto the graph family's frontier loop.
    *
    * Why a sketch is the ONLY scale path here: the exact answer for all
    * nodes is the h-step transitive pair closure — quadratic blow-up on
    * hub-heavy graphs (this is NOT [[citationReach]], which waves from 5
    * seeds; here every node is a source). HyperBall's state is instead
    * 2^lgK registers per node, linear in nodes and INDEPENDENT of ball
    * sizes; each round is one edge join + one register-union aggregate
    * (`hll_union_agg` — mergeable map-side partials, so the shuffle
    * carries one partially-unioned sketch per (partition, dst), never
    * per-edge register blocks).
    *
    * Engine-specific sketch bytes ⇒ rows-only in the driver gate (the
    * ANN/sketch convention); the numeric contract — every per-node
    * estimate within HLL error of the exact 2-hop in-ball, computed
    * brute-force at sf0.001 — is asserted in SketchSpec. Deterministic:
    * DataSketches HLL is a pure function of the item set, so the top-k
    * ranking is stable across runs/partitionings (spec-asserted by
    * re-running repartitioned). */
  def hyperBall(edges: DataFrame, hops: Int = 2, lgK: Int = 12,
                k: Int = 30): DataFrame =
    hyperBallLoop(edges, hops, lgK)((_, _) => ())
      .select(col("id").as("paper_id"),
        hll_sketch_estimate(col("ball")).cast("long").as("reach_est"))
      .orderBy(col("reach_est").desc, col("paper_id").asc)
      .limit(k)

  /** The HyperBall register-propagation loop, shared by [[hyperBall]]
    * (top-k ball sizes after the final hop) and [[neighborhoodFunction]]
    * (the per-hop N(h) sweep): `perHop(h, balls)` fires on the
    * checkpointed cut after every round (and at h = 0 on the singleton
    * init), so per-hop consumers aggregate the CURRENT registers without
    * re-running earlier rounds. Returns the final checkpointed ball
    * frame; the caller owns its release. */
  private def hyperBallLoop(edges: DataFrame, hops: Int, lgK: Int)
      (perHop: (Int, DataFrame) => Unit): DataFrame = {
    val e = directedBySrc(edges)
    val balls0 = nodeIds(e).groupBy(col("id"))
      .agg(hll_sketch_agg(col("id"), lit(lgK)).as("ball"))
      .localCheckpoint()
    perHop(0, balls0)
    val balls = Fixpoint.rounds(hops, balls0) { (r, balls) =>
      val inbox = e
        .join(balls.select(col("id").as("u"), col("ball").as("nb"))
          .hint("shuffle_hash"), e("src") === col("u"))
        .groupBy(e("dst").as("id"))
        .agg(hll_union_agg(col("nb")).as("nb"))
      val cut = r.cut(balls.join(inbox, Seq("id"), "left_outer")
        .select(balls("id"),
          when(col("nb").isNull, col("ball"))
            .otherwise(hll_union(col("ball"), col("nb"))).as("ball")))
      perHop(r.i, cut)
      cut
    }
    graft.Blocks.release(e)
    balls
  }

  /** `citation_neighborhood_fn` (rows-only): HyperBall's actual
    * deliverable (Boldi & Vigna 2011) — the NEIGHBORHOOD FUNCTION
    * N(h) = |{(u, v) : dist(u→v) ≤ h}| for h = 0..maxHops, plus the
    * effective-diameter estimate it exists to compute: the smallest h
    * whose N(h) reaches 90% of the deepest swept ball volume. One row
    * per hop: (h, pairs_est, frac_of_max, eff_diameter, horizon_reached),
    * the last two columns the same scalars on every row of the
    * ≤(maxHops+1)-row frame. `horizon_reached` is TRUE iff the sweep was
    * still adding mass at its deepest hop — eff_diameter is then a lower
    * bound clamped at maxHops, not a converged estimate (the silent-clamp
    * hole the r13/r14 verdicts flagged).
    * N(0) = |nodes| (every ball starts holding its own id), so the
    * sweep's h = 0 row doubles as an HLL sanity anchor.
    *
    * Scale shape: the [[hyperBall]] loop verbatim (mergeable map-side
    * partial unions, 2^lgK registers per node, frontier-bounded rounds)
    * plus ONE partial-aggregable sum of per-node estimates per hop — a
    * 1-row scalar per round, the graph family's fixpoint-probe class.
    * The ordered-pair identity Σᵥ|in-ball(v,h)| = Σᵤ|out-ball(u,h)|
    * means the in-ball propagation direction computes the same N(h) the
    * out-ball formulation would. Rows-only in the gate (sketch-estimate
    * values); SketchSpec pins each swept N(h) within HLL error of the
    * exact h-hop pair closure at sf0.001 for h ≤ 3. */
  def neighborhoodFunction(edges: DataFrame, maxHops: Int = 4,
                           lgK: Int = 12): DataFrame = {
    val sp = edges.sparkSession
    val sweep = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    val balls = hyperBallLoop(edges, maxHops, lgK) { (h, b) =>
      val est = b.agg(coalesce(sum(hll_sketch_estimate(col("ball"))), lit(0.0)))
        .collect()(0).getDouble(0)
      sweep += ((h, math.round(est)))
    }
    graft.Blocks.release(balls)
    val nMax = sweep.last._2
    // HORIZON SIGNAL (r13/r14 verdict directive): frac is normalized to
    // the DEEPEST SWEPT ball, so the last row is 1.0 ≥ 0.9 by
    // construction and the find() below can never miss — on a corpus
    // whose true 90% point lies beyond maxHops the eff_diameter would
    // silently read maxHops. The sweep converged iff the last hop added
    // no mass (HLL is a pure function of the ball SET, so equal sets ⇒
    // equal estimates); when it hasn't, horizon_reached=true flags
    // eff_diameter as a lower bound clamped at the sweep depth.
    val horizonReached =
      maxHops < 1 || sweep(sweep.length - 1)._2 != sweep(sweep.length - 2)._2
    val rows = sweep.toSeq.map { case (h, p) =>
      val frac =
        if (nMax == 0L) 0.0
        else BigDecimal(p.toDouble / nMax.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (h, p, frac)
    }
    val effDiameter = rows.find(_._3 >= 0.9).map(_._1).getOrElse(maxHops)
    import sp.implicits._
    rows.map { case (h, p, f) => (h, p, f, effDiameter, horizonReached) }
      .toDF("h", "pairs_est", "frac_of_max", "eff_diameter", "horizon_reached")
  }

  /** DuckDB twin of [[kTruss]]: the peel unrolled as MATERIALIZED rounds
    * (the [[kCoreSql]] discipline), each round re-deriving degrees,
    * orientation, triangles and support from the previous edge set with
    * the same tie-breaks. Rounds past the fixpoint are no-ops on both
    * engines. */
  def kTrussSql(k: Int = 3, rounds: Int = 6): String = {
    val steps = (1 to rounds).map { i =>
      s"""deg$i AS MATERIALIZED (
         |  SELECT n, count(*) AS d FROM (SELECT a AS n FROM e${i - 1}
         |                                UNION ALL SELECT b FROM e${i - 1})
         |  GROUP BY 1),
         |o$i AS MATERIALIZED (
         |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
         |              THEN u.a ELSE u.b END AS u,
         |         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
         |              THEN u.b ELSE u.a END AS v
         |  FROM e${i - 1} u JOIN deg$i da ON da.n = u.a
         |                   JOIN deg$i db ON db.n = u.b),
         |t$i AS MATERIALIZED (
         |  SELECT e1.u, e1.v AS v1, e2.v AS v2
         |  FROM o$i e1 JOIN o$i e2 ON e1.u = e2.u AND e1.v < e2.v
         |  WHERE EXISTS (SELECT 1 FROM e${i - 1} w
         |                WHERE w.a = e1.v AND w.b = e2.v)),
         |e$i AS MATERIALIZED (
         |  SELECT a, b FROM (
         |    SELECT least(u, v1) AS a, greatest(u, v1) AS b FROM t$i
         |    UNION ALL SELECT least(u, v2), greatest(u, v2) FROM t$i
         |    UNION ALL SELECT v1, v2 FROM t$i)
         |  GROUP BY 1, 2 HAVING count(*) >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT CAST(l_orderkey AS VARCHAR) AS src,
       |         CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
       |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |       FROM raw WHERE src <> dst),
       |$steps,
       |degF AS (SELECT n, count(*) AS d FROM (SELECT a AS n FROM e$rounds
       |                                       UNION ALL SELECT b FROM e$rounds)
       |         GROUP BY 1),
       |oF AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
       |                   THEN u.a ELSE u.b END AS u,
       |              CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
       |                   THEN u.b ELSE u.a END AS v
       |       FROM e$rounds u JOIN degF da ON da.n = u.a
       |                       JOIN degF db ON db.n = u.b),
       |tF AS (SELECT e1.u, e1.v AS v1, e2.v AS v2
       |       FROM oF e1 JOIN oF e2 ON e1.u = e2.u AND e1.v < e2.v
       |       WHERE EXISTS (SELECT 1 FROM e$rounds w
       |                     WHERE w.a = e1.v AND w.b = e2.v))
       |SELECT a, b, count(*) AS support FROM (
       |  SELECT least(u, v1) AS a, greatest(u, v1) AS b FROM tF
       |  UNION ALL SELECT least(u, v2), greatest(u, v2) FROM tF
       |  UNION ALL SELECT v1, v2 FROM tF)
       |GROUP BY 1, 2 ORDER BY a, b""".stripMargin
  }

  def citationTriangles(edges: DataFrame): DataFrame = {
    val (deg, tri) = triangleRows(edges)
    // one global aggregate for both totals: triangle rows tag `t`, degree
    // rows carry their wedges d(d-1) in `w`, and each total skips the
    // other side's nulls (an empty graph reads (0, null, null)). The
    // not-null test is a no-op on the loop-free edge set; it is the one
    // the orientation joins infer, so this degree aggregate plans the
    // same exchange as theirs and AQE reuses it
    val rows = tri.select(lit(1L).as("t"), lit(null).cast("long").as("w"))
      .unionAll(deg.where(col("n").isNotNull).select(lit(null).cast("long").as("t"),
        (col("d") * (col("d") - lit(1))).as("w")))
    rows.agg(count(col("t")).as("triangles"),
        (sum(col("w")) / lit(2)).cast("long").as("wedges"))
      .select(col("triangles"), col("wedges"),
        round(lit(3.0) * col("triangles") / col("wedges"), 6).as("clustering"))
  }

  /** Per-node triangle counts + LOCAL clustering coefficient
    * (Watts–Strogatz: 2t / d(d-1)), top-30 nodes by triangle count. Each
    * closed triangle credits all three of its vertices — one explode of
    * the 3-element vertex array, then a count per node (map-side
    * combining; triangle rows are already bounded by the orientation
    * argument, see [[citationTriangles]]) joined back to the degree
    * table. t and d are exact integers, so the coefficient rounds
    * identically across engines; top-30 plans as TakeOrderedAndProject
    * with the id tie-break. */
  def citationLocalClustering(edges: DataFrame, k: Int = 30): DataFrame = {
    val (deg, tri) = triangleRows(edges)
    val perNode = tri
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("triangles"))
    perNode.join(deg, Seq("n"))
      .select(col("n").as("paper_id"), col("triangles"), col("d").as("degree"),
        round(lit(2.0) * col("triangles") / (col("d") * (col("d") - lit(1))), 6)
          .as("local_clustering"))
      .orderBy(col("triangles").desc, col("paper_id").asc)
      .limit(k)
  }

  val citationLocalClusteringSql: String =
    """WITH e AS (SELECT CAST(l_orderkey AS VARCHAR) AS src,
      |                  CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
      |u AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
      |      FROM e WHERE src <> dst GROUP BY 1, 2),
      |deg AS (SELECT n, count(*) AS d FROM
      |        (SELECT a AS n FROM u UNION ALL SELECT b FROM u) GROUP BY 1),
      |o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
      |                  THEN u.a ELSE u.b END AS u,
      |             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
      |                  THEN u.b ELSE u.a END AS v
      |      FROM u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b),
      |tri AS (SELECT e1.u, e1.v AS v1, e2.v AS v2
      |        FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v < e2.v
      |        WHERE EXISTS (SELECT 1 FROM u
      |                      WHERE u.a = e1.v AND u.b = e2.v)),
      |pn AS (SELECT n, count(*) AS triangles FROM
      |       (SELECT unnest([u, v1, v2]) AS n FROM tri) GROUP BY 1)
      |SELECT n AS paper_id, triangles, d AS degree,
      |       round(2.0 * triangles / (d * (d - 1)), 6) AS local_clustering
      |FROM pn JOIN deg USING (n)
      |ORDER BY triangles DESC, paper_id ASC LIMIT 30""".stripMargin

  /** Link prediction by the Resource-Allocation index (Zhou, Lü & Zhang,
    * Eur. Phys. J. B 71, 2009): a candidate pair (a, b) is two papers
    * cited by a common source z, scored Σ_z 1/deg(z) — low-fan-out
    * citers are stronger evidence than hubs. RA is Adamic–Adar with the
    * 1/ln d weight swapped for the reciprocal, chosen deliberately:
    * 1/d is ONE correctly-rounded IEEE division (no libm transcendental
    * whose last ulp can differ across engines), so the per-term value is
    * bit-identical in Spark and DuckDB, and the 9-dp DECIMAL
    * accumulation is order-free (the q1 float discipline). Pairs already
    * linked by an edge in either direction are anti-joined away — that
    * is the "prediction" half of link prediction.
    *
    * Scale shape: the same capped pair expansion as [[coCitationTopk]]
    * (sources above `maxOutDegree` are dropped FIRST, so the per-citer
    * fan-out is bounded by construction and the cap is part of the
    * operator contract, mirrored in the oracle); the capped+weighted
    * edge frame is computed ONCE and pinned (the cocitation
    * pinned-exchange trick can't apply here because only the a-side
    * keeps `term`, so the two sides prune to
    * DIFFERENT subtrees and ReuseExchange never fires; measured: the
    * un-pinned plan scans the edge source twice). The self-join then
    * exchanges both sides of the pinned frame (the re-aliased side's
    * attribute ids hide the preserved partitioning, so pre-partitioning
    * before the pin would NOT be reused — measured, hence no
    * repartition here); those are linear-size shuffles, noise next to
    * the quadratic pair aggregate that dominates at any scale. The
    * anti-join and group keys are the canonical pair — never anything
    * quadratic in a node's raw degree. Top-30 plans as
    * TakeOrderedAndProject. */
  def linkPredictRa(edges: DataFrame, maxOutDegree: Int = 100,
                    preCutProbe: DataFrame => Unit = _ => ()): DataFrame = {
    // the RA term rides ON the capped edge frame, so the pair join needs
    // no third join against the degree table afterwards; the harness
    // sweeps the pinned blocks between queries (graft.Blocks)
    val fRaw = edges
      .join(edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .where(col("deg") <= maxOutDegree), Seq("src"))
      .select(col("src"), col("dst"),
        round(lit(1.0) / col("deg").cast("double"), 9)
          .cast("decimal(18,9)").as("term"))
    preCutProbe(fRaw)
    val f = Blocks.cut(fRaw, "src")
    val a = f.select(col("src"), col("dst").as("paper_a"), col("term"))
    val b = f.select(col("src"), col("dst").as("paper_b"))
    val linked = edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("paper_a"),
        greatest(col("src"), col("dst")).as("paper_b"))
      .distinct()
    a.hint("shuffle_hash").join(b, Seq("src"))
      .where(col("paper_a") < col("paper_b"))
      .groupBy(col("paper_a"), col("paper_b"))
      .agg(count(lit(1)).as("n_common"), sum(col("term")).as("s"))
      .join(linked, Seq("paper_a", "paper_b"), "left_anti")
      .select(col("paper_a"), col("paper_b"), col("n_common"),
        round(col("s").cast("double"), 9).as("ra_score"))
      .orderBy(col("ra_score").desc, col("paper_a"), col("paper_b"))
      .limit(30)
  }

  val linkPredictRaSql: String =
    """WITH e AS (SELECT CAST(l_orderkey AS VARCHAR) AS src,
      |                  CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
      |deg AS (SELECT src, count(*) AS deg FROM e
      |        GROUP BY 1 HAVING count(*) <= 100),
      |f AS (SELECT e.src, e.dst,
      |             CAST(round(CAST(1.0 AS DOUBLE) / CAST(deg AS DOUBLE), 9)
      |                  AS DECIMAL(18,9)) AS term
      |      FROM e JOIN deg USING (src)),
      |scored AS (
      |  SELECT a.dst AS paper_a, b.dst AS paper_b,
      |         count(*) AS n_common, sum(a.term) AS s
      |  FROM f a JOIN f b ON a.src = b.src AND a.dst < b.dst
      |  GROUP BY 1, 2),
      |linked AS (SELECT DISTINCT least(src, dst) AS paper_a,
      |                  greatest(src, dst) AS paper_b
      |           FROM e WHERE src <> dst)
      |SELECT paper_a, paper_b, n_common,
      |       round(CAST(s AS DOUBLE), 9) AS ra_score
      |FROM scored
      |WHERE NOT EXISTS (SELECT 1 FROM linked l
      |                  WHERE l.paper_a = scored.paper_a
      |                    AND l.paper_b = scored.paper_b)
      |ORDER BY ra_score DESC, paper_a, paper_b LIMIT 30""".stripMargin

  /** Degree assortativity of the citation graph — the Pearson correlation
    * between a citing paper's out-degree and the cited paper's in-degree,
    * taken over every edge (Newman, Phys. Rev. Lett. 89, 2002). Negative
    * r means hubs cite niche papers (disassortative, the common shape of
    * citation networks); a single scalar that profiles the whole graph.
    *
    * Float discipline: every moment (Σx, Σy, Σx², Σy², Σxy and the edge
    * count) accumulates EXACTLY — Spark in DECIMAL(38,0), DuckDB in its
    * native 128-bit HUGEINT (the [[graft.operators.EventAnalytics
    * .eventsAnomaly]] convention) — so the only float ops are the final
    * fixed-order covariance/variance ratio, identical in both engines.
    *
    * Scale shape: two degree aggregates (map-side combined), two
    * hash-joins keyed on the edge endpoints (high-cardinality, evenly
    * spread), then ONE global moment aggregate whose partial rows are a
    * single 6-number tuple per partition — the driver sees O(partitions),
    * never O(edges). Nothing quadratic, nothing funnelled. */
  def citationAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.where(col("src") =!= col("dst"))
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("x"))
    val inDeg = e.groupBy(col("dst")).agg(count(lit(1)).as("y"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val s = e.join(outDeg, Seq("src")).join(inDeg, Seq("dst"))
      .agg(count(lit(1)).as("m"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"))
    s.select(col("m").as("n_edges"),
      round((dec(col("m")) * col("sxy") - col("sx") * col("sy")).cast("double")
        / (sqrt((dec(col("m")) * col("sxx") - col("sx") * col("sx")).cast("double"))
          * sqrt((dec(col("m")) * col("syy") - col("sy") * col("sy")).cast("double"))),
        6).as("assortativity"))
  }

  val citationAssortativitySql: String =
    """WITH e AS (SELECT CAST(l_orderkey AS VARCHAR) AS src,
      |                  CAST(l_partkey AS VARCHAR) AS dst
      |           FROM lineitem WHERE l_orderkey <> l_partkey),
      |od AS (SELECT src, count(*) AS x FROM e GROUP BY 1),
      |id AS (SELECT dst, count(*) AS y FROM e GROUP BY 1),
      |s AS (SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
      |             sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
      |      FROM e JOIN od USING (src) JOIN id USING (dst))
      |SELECT CAST(m AS BIGINT) AS n_edges,
      |       round(CAST(m*sxy - sx*sy AS DOUBLE)
      |             / (sqrt(CAST(m*sxx - sx*sx AS DOUBLE))
      |                * sqrt(CAST(m*syy - sy*sy AS DOUBLE))), 6)
      |         AS assortativity
      |FROM s""".stripMargin

  /** Link prediction by the Jaccard coefficient — |N(a)∩N(b)| /
    * |N(a)∪N(b)| over in-neighbor (citer) SETS, the classic
    * neighborhood-overlap score next to [[linkPredictRa]]'s
    * degree-weighted one (Liben-Nowell & Kleinberg, CIKM 2003). Set
    * semantics, so the edge list dedupes FIRST (an order citing the same
    * paper on two lines is one neighbor relation), unlike RA/co-citation
    * which deliberately count multiplicity.
    *
    * Determinism: the score is ONE correctly-rounded IEEE division of two
    * exact integers (the union size computed in integer arithmetic) —
    * bit-identical across engines, no transcendentals, no float sums.
    *
    * Scale shape: same capped pair expansion as [[coCitationTopk]]
    * (sources above `maxOutDegree` dropped first — the cap is the
    * operator contract, mirrored in the oracle); neighbor-set sizes are
    * measured WITHIN the capped frame so the intersection and the sizes
    * count the same universe. The capped frame pins once; pairs group on
    * the canonical (a, b) key; top-30 plans as TakeOrderedAndProject. */
  def linkPredictJaccard(edges: DataFrame, maxOutDegree: Int = 100): DataFrame = {
    val e = edges.where(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val f = Blocks.cut(e
      .join(e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .where(col("deg") <= maxOutDegree), Seq("src"))
      .select(col("src"), col("dst")), "src")
    val nb = f.groupBy(col("dst")).agg(count(lit(1)).as("d"))
    val a = f.select(col("src"), col("dst").as("paper_a"))
    val b = f.select(col("src"), col("dst").as("paper_b"))
    val linked = edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("paper_a"),
        greatest(col("src"), col("dst")).as("paper_b"))
      .distinct()
    a.hint("shuffle_hash").join(b, Seq("src"))
      .where(col("paper_a") < col("paper_b"))
      .groupBy(col("paper_a"), col("paper_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(linked, Seq("paper_a", "paper_b"), "left_anti")
      .join(nb.select(col("dst").as("paper_a"), col("d").as("da")), Seq("paper_a"))
      .join(nb.select(col("dst").as("paper_b"), col("d").as("db")), Seq("paper_b"))
      .select(col("paper_a"), col("paper_b"), col("n_common"),
        round(col("n_common").cast("double")
          / (col("da") + col("db") - col("n_common")).cast("double"), 9)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("paper_a"), col("paper_b"))
      .limit(30)
  }

  val linkPredictJaccardSql: String =
    """WITH e AS (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS src,
      |                  CAST(l_partkey AS VARCHAR) AS dst
      |           FROM lineitem WHERE l_orderkey <> l_partkey),
      |deg AS (SELECT src FROM e GROUP BY 1 HAVING count(*) <= 100),
      |f AS (SELECT e.src, e.dst FROM e JOIN deg USING (src)),
      |nb AS (SELECT dst, count(*) AS d FROM f GROUP BY 1),
      |pairs AS (
      |  SELECT a.dst AS paper_a, b.dst AS paper_b, count(*) AS n_common
      |  FROM f a JOIN f b ON a.src = b.src AND a.dst < b.dst
      |  GROUP BY 1, 2),
      |linked AS (SELECT DISTINCT least(src, dst) AS paper_a,
      |                  greatest(src, dst) AS paper_b
      |           FROM (SELECT CAST(l_orderkey AS VARCHAR) AS src,
      |                        CAST(l_partkey AS VARCHAR) AS dst
      |                 FROM lineitem WHERE l_orderkey <> l_partkey))
      |SELECT paper_a, paper_b, n_common,
      |       round(CAST(n_common AS DOUBLE)
      |             / CAST(na.d + nbd.d - n_common AS DOUBLE), 9) AS jaccard
      |FROM pairs
      |JOIN nb na ON na.dst = pairs.paper_a
      |JOIN nb nbd ON nbd.dst = pairs.paper_b
      |WHERE NOT EXISTS (SELECT 1 FROM linked l
      |                  WHERE l.paper_a = pairs.paper_a
      |                    AND l.paper_b = pairs.paper_b)
      |ORDER BY jaccard DESC, paper_a, paper_b LIMIT 30""".stripMargin

  val citationTrianglesSql: String =
    """WITH e AS (SELECT CAST(l_orderkey AS VARCHAR) AS src,
      |                  CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
      |u AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
      |      FROM e WHERE src <> dst GROUP BY 1, 2),
      |deg AS (SELECT n, count(*) AS d FROM
      |        (SELECT a AS n FROM u UNION ALL SELECT b FROM u) GROUP BY 1),
      |o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
      |                  THEN u.a ELSE u.b END AS u,
      |             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
      |                  THEN u.b ELSE u.a END AS v
      |      FROM u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b),
      |tri AS (SELECT count(*) AS triangles
      |        FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v < e2.v
      |        WHERE EXISTS (SELECT 1 FROM u
      |                      WHERE u.a = e1.v AND u.b = e2.v)),
      |w AS (SELECT CAST(sum(d * (d - 1)) / 2 AS BIGINT) AS wedges FROM deg)
      |SELECT triangles, wedges,
      |       round(3.0 * triangles / wedges, 6) AS clustering
      |FROM tri, w""".stripMargin

  /** Min-hop reachability within 3 hops of the 5 most-cited papers,
    * written as a RECURSIVE CTE (Spark 4 executes it as iterative
    * frontier expansion — each recursion step is one distributed join,
    * the same shape pageRank hand-codes). The per-path UNION ALL rows
    * collapse through the final min(hop) aggregate; the hop < 3 guard
    * bounds the recursion depth, and fan-out is the out-degree of the
    * frontier, never the whole graph. Oracled with the IDENTICAL
    * recursive SQL in DuckDB — the point is that the declarative
    * iterative form is now portable across both engines. */
  def citationReach(s: SparkSession, d: String): DataFrame = {
    // pin the edge frame once: every recursion step joins against it, and
    // without the checkpoint each step re-scans the parquet and re-derives
    // the projection (same reasoning as pageRank's static sides)
    edges(s, d).localCheckpoint()
      .createOrReplaceTempView("graft_citation_edges")
    s.sql(
      """WITH RECURSIVE seeds AS (
        |  SELECT dst AS id FROM graft_citation_edges
        |  GROUP BY dst ORDER BY count(*) DESC, dst ASC LIMIT 5),
        |r(id, hop) AS (
        |  SELECT id, 0 AS hop FROM seeds
        |  UNION ALL
        |  SELECT e.dst, r.hop + 1 FROM r
        |  JOIN graft_citation_edges e ON e.src = r.id
        |  WHERE r.hop < 3)
        |SELECT id AS paper_id, CAST(min(hop) AS INT) AS min_hop
        |FROM r GROUP BY id""".stripMargin)
  }

  val citationReachSql: String =
    """WITH RECURSIVE e AS (
      |  SELECT CAST(l_orderkey AS VARCHAR) AS src,
      |         CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
      |seeds AS (SELECT dst AS id FROM e
      |          GROUP BY dst ORDER BY count(*) DESC, dst ASC LIMIT 5),
      |r(id, hop) AS (
      |  SELECT id, 0 AS hop FROM seeds
      |  UNION ALL
      |  SELECT e.dst, r.hop + 1 FROM r JOIN e ON e.src = r.id
      |  WHERE r.hop < 3)
      |SELECT id AS paper_id, CAST(min(hop) AS INT) AS min_hop
      |FROM r GROUP BY id ORDER BY paper_id""".stripMargin

  /** PageRank over the citation graph — the canonical iterative graph
    * computation, expressed as repeated join+aggregate rounds
    * (Pregel-style message passing in DataFrame form): each paper sends
    * rank/out_degree along its out-edges; new rank = (1-d)/N +
    * d*(inbox + dangling_mass/N), with the dangling mass (papers citing
    * nothing) redistributed uniformly so total rank stays exactly 1.
    *
    * Scale: every round is ONE shuffle join on src and ONE aggregate on
    * dst. The checkpointed edge frame is pre-partitioned on src and the
    * rank frame leaves each round hash-partitioned on id (localCheckpoint
    * preserves outputPartitioning), so the per-round join re-exchanges
    * NEITHER side — only the dst aggregate shuffles, which no PageRank
    * formulation avoids. The dangling mass rides along as a broadcast
    * 1-row aggregate instead of a per-round driver action, so each round
    * is exactly one job (the eager checkpoint). Lineage is cut every
    * round so the plan doesn't grow with the iteration count. Not
    * DuckDB-oracled (iterative float fixpoints don't hash-match across
    * engines); invariants are spec-tested in AnalyticsExtraSpec, values
    * pinned by a closed-form fixture. */
  def pageRank(edges: DataFrame, iterations: Int = 10,
               damping: Double = 0.85): DataFrame = {
    // Static sides pinned once: without the eager checkpoints every
    // round's materialization would re-run the ENTIRE lineage back to the
    // scan, turning O(iters) work into O(iters²).
    //
    // The cut cadence (3) trades job-launch overhead against recompute:
    // each un-checkpointed round's plan references the previous ranks
    // TWICE (dangling scan + contribs join), so chaining k rounds between
    // cuts re-executes the oldest round up to 2^(k-1) times inside one job
    // — but saves k-1 materialization jobs. Measured under BENCH
    // conditions (local[32], sf0.1, checksum materialization, median of 3
    // after an untimed warm-up, two independent JVMs — table in
    // BASELINE.md): every-round ~9.7-10.8 s, every-2/3/4 all ~8-9 s
    // and statistically indistinguishable from each other. So the real,
    // reproducible effect is "any cadence >= 2 beats every-round by
    // ~15-20%"; finer distinctions are inside run-to-run noise (earlier
    // standalone measurements suggesting every-3 ~4.9 s did not survive
    // bench conditions and are superseded by the sweep). Results are
    // bit-identical for any cadence (checkpointing changes WHERE the
    // plan is cut, never the arithmetic) — probe-verified, and the hash
    // oracle pins it. The final round always cuts, keeping the returned
    // plan bounded.
    // plain (AQE-governed) cuts, NOT Blocks.cut: pageRank's per-round
    // stages do real compute (the contribs join + aggregate over the
    // full edge frame), and AQE's per-stage widths (wide maps, coalesced
    // reads) beat any single pinned width at the measured scale — r16
    // A/B at sf0.1: pinned floor-4 9.92 s / floor-8 9.73 / r15's 32-wide
    // 17.16 vs 5.92 s for this shape (the pin also adds ~5 AQE query
    // stages per round: 129 vs 76 stages per execution). The at-scale
    // trade is the per-round edge re-exchange this re-admits — but that
    // exchange is AQE-sized and the measured ground truth says the pin
    // costs ~70% wall here; see OPTIMIZATION_r16.md.
    val e = edges.repartition(col("src")).localCheckpoint()
    val nodes = nodeIds(e)
    val n = nodes.count().toDouble
    val outDeg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    // the rank frame CARRIES the out-degree, so each round needs only one
    // edge join + one aggregate, and the dangling mass is a scan of the
    // checkpointed frame (no join)
    val nodesWithDeg = nodes.join(outDeg, Seq("id"), "left_outer")
      .localCheckpoint()
    val ranks0 = nodesWithDeg.select(col("id"), col("deg"),
      lit(1.0 / n).as("rank")).localCheckpoint()
    val ranks = Fixpoint.rounds(iterations, ranks0, every = 3) { (r, ranks) =>
      // dangling mass as a broadcast scalar FRAME, not a driver collect:
      // folding it into the round's plan keeps each round a single job
      val dangling = broadcast(ranks.where(col("deg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm")))
      // rank side: broadcast when provably tiny, shuffle_hash otherwise
      // (probeSide — hash-building the node-scale rank frame beats
      // re-sorting the edge-scale side every round; SMJ would sort the
      // full edge list per iteration, the hash build is O(nodes))
      val contribs = e
        .join(probeSide(ranks.where(col("deg").isNotNull)
          .select(col("id"), (col("rank") / col("deg")).as("share")),
          n.toLong * 64),
          e("src") === col("id"))
        .groupBy(col("dst")).agg(sum(col("share")).as("inbox"))
      val next = nodesWithDeg
        .join(contribs, nodesWithDeg("id") === contribs("dst"), "left_outer")
        .crossJoin(dangling)
        .select(nodesWithDeg("id"), nodesWithDeg("deg"),
          (lit((1 - damping) / n) +
            lit(damping) * (coalesce(col("inbox"), lit(0.0)) +
              col("dm") / lit(n))).as("rank"))
      r.cut(next)
    }
    // the final cut is a lineage-free LogicalRDD — the returned frame no
    // longer references the edge / degree frames, so their blocks go too
    graft.Blocks.release(e)
    graft.Blocks.release(nodesWithDeg)
    ranks.select(col("id").as("paper_id"), round(col("rank"), 8).as("rank"))
  }

  /** Personalized PageRank (topic-sensitive PageRank — Haveliwala, WWW
    * 2002): the teleport vector concentrates on a SEED set instead of
    * spreading uniformly, so rank measures proximity to the seeds — the
    * "related papers" primitive. Seeds here are the k most-cited papers
    * (count desc, id asc — the [[top30]] tie-break), computed inside the
    * query so both engines derive the identical set. Per round:
    * rank' = (1-d)·s + d·(inbox + dm·s), where s = 1/k on seeds and 0
    * elsewhere and the dangling mass dm redistributes over the SEED
    * distribution (the personalized convention — mass returns to the
    * topic, not the whole graph). Same float discipline as [[pageRank]]
    * ([[pageRankSql]] has the argument); same per-round scale shape: ONE
    * shuffle join + ONE aggregate, dangling mass as a broadcast 1-row
    * frame, shuffle_hash on the node-scale rank side, cadence-3 cuts
    * with immediate release. */
  def personalizedPageRank(edges: DataFrame, seedK: Int = 5,
                           iterations: Int = 6,
                           damping: Double = 0.85): DataFrame = {
    // plain AQE cut, not Blocks.cut — the pageRank rationale above
    // (measured at sf0.1: pinned 6.85-7.72 s vs 5.05 s for this shape)
    val e = edges.repartition(col("src")).localCheckpoint()
    val nodes = nodeIds(e)
    val seeds = counts(e)
      .orderBy(col("citations").desc, col("paper_id").asc).limit(seedK)
      .select(col("paper_id").as("id"), (lit(1.0) / seedK).as("s"))
    val outDeg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    // the rank frame carries deg AND the teleport weight s, so each round
    // stays one join + one aggregate (the pageRank carrier trick)
    val base = nodes.join(outDeg, Seq("id"), "left_outer")
      .join(broadcast(seeds), Seq("id"), "left_outer")
      .select(col("id"), col("deg"), coalesce(col("s"), lit(0.0)).as("s"))
      .localCheckpoint()
    val n = base.count() // node count: probeSide sizing (persisted scan)
    val ranks0 = base.select(col("id"), col("deg"), col("s"),
      col("s").as("rank")).localCheckpoint()
    val ranks = Fixpoint.rounds(iterations, ranks0, every = 3) { (r, ranks) =>
      val dangling = broadcast(ranks.where(col("deg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm")))
      val contribs = e
        .join(probeSide(ranks.where(col("deg").isNotNull)
          .select(col("id"), (col("rank") / col("deg")).as("share")),
          n * 64),
          e("src") === col("id"))
        .groupBy(col("dst")).agg(sum(col("share")).as("inbox"))
      val next = base
        .join(contribs, base("id") === contribs("dst"), "left_outer")
        .crossJoin(dangling)
        .select(base("id"), base("deg"), base("s"),
          (lit(1 - damping) * col("s") +
            lit(damping) * (coalesce(col("inbox"), lit(0.0)) +
              col("dm") * col("s"))).as("rank"))
      r.cut(next)
    }
    graft.Blocks.release(e)
    graft.Blocks.release(base)
    ranks.select(col("id").as("paper_id"), round(col("rank"), 8).as("ppr"))
  }

  /** DuckDB twin of [[personalizedPageRank]], unrolled per round with
    * operation-identical arithmetic and MATERIALIZED cuts (the
    * [[pageRankSql]] / [[kCoreSql]] discipline). */
  def personalizedPageRankSql(seedK: Int = 5, iterations: Int = 6,
                              damping: Double = 0.85): String = {
    val d = s"CAST($damping AS DOUBLE)"
    val rounds = (1 to iterations).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT nd.id, nd.deg, nd.s,
         |    (1 - $d) * nd.s
         |    + $d * (coalesce(inbox.x, 0.0)
         |        + (SELECT coalesce(sum(rank), 0.0) FROM r${k - 1} WHERE deg IS NULL)
         |          * nd.s) AS rank
         |  FROM nd
         |  LEFT JOIN (
         |    SELECT e.dst, sum(p.rank / p.deg) AS x
         |    FROM e JOIN r${k - 1} p ON p.id = e.src
         |    WHERE p.deg IS NOT NULL
         |    GROUP BY e.dst) inbox ON inbox.dst = nd.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT CAST(l_orderkey AS VARCHAR) AS src,
       |         CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
       |seeds AS MATERIALIZED (
       |  SELECT dst AS id, CAST(1.0 AS DOUBLE) / $seedK AS s
       |  FROM (SELECT dst, count(*) AS citations FROM e GROUP BY 1
       |        ORDER BY citations DESC, dst ASC LIMIT $seedK)),
       |nd AS MATERIALIZED (
       |  SELECT n.id, d.deg, coalesce(se.s, 0.0) AS s
       |  FROM nodes n LEFT JOIN deg d USING (id) LEFT JOIN seeds se USING (id)),
       |r0 AS MATERIALIZED (SELECT id, deg, s, s AS rank FROM nd),
       |$rounds
       |SELECT id AS paper_id, round(rank, 8) AS ppr
       |FROM r$iterations ORDER BY paper_id""".stripMargin
  }

  /** DuckDB twin of [[pageRank]]: the fixed-iteration fixpoint UNROLLED as
    * one chained CTE per round (standard SQL forbids aggregation inside a
    * recursive term, so unrolling is the portable spelling of a bounded
    * iteration). Arithmetic is kept operation-for-operation identical to
    * the Spark side — same `(1 - d)/n` spelling, same coalesce points,
    * same final `round(rank, 8)` — so the only cross-engine difference is
    * floating-point summation ORDER, whose ~1e-15 relative noise sits
    * eight orders of magnitude below the rounding grid. That makes this
    * float fixpoint hash-matchable, not just rows-only. */
  def pageRankSql(iterations: Int = 6, damping: Double = 0.85): String = {
    // bare decimal literals parse as DECIMAL in DuckDB; the CAST keeps
    // every operation in IEEE doubles, mirroring the Scala expressions
    val d = s"CAST($damping AS DOUBLE)"
    val rounds = (1 to iterations).map { k =>
      s"""r$k AS (
         |  SELECT nd.id, nd.deg,
         |    (1 - $d) / (SELECT n FROM params)
         |    + $d * (coalesce(inbox.s, 0.0)
         |        + (SELECT coalesce(sum(rank), 0.0) FROM r${k - 1} WHERE deg IS NULL)
         |          / (SELECT n FROM params)) AS rank
         |  FROM nd
         |  LEFT JOIN (
         |    SELECT e.dst, sum(p.rank / p.deg) AS s
         |    FROM e JOIN r${k - 1} p ON p.id = e.src
         |    WHERE p.deg IS NOT NULL
         |    GROUP BY e.dst) inbox ON inbox.dst = nd.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT CAST(l_orderkey AS VARCHAR) AS src,
       |         CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
       |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
       |nd AS (SELECT n.id, d.deg FROM nodes n LEFT JOIN deg d USING (id)),
       |params AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |r0 AS (SELECT id, deg, 1.0 / (SELECT n FROM params) AS rank FROM nd),
       |$rounds
       |SELECT id AS paper_id, round(rank, 8) AS rank
       |FROM r$iterations ORDER BY paper_id""".stripMargin
  }

  /** k-core of the undirected citation graph by peeling (Seidman, Social
    * Networks 5, 1983): repeatedly drop every node whose degree in the
    * SURVIVING subgraph is below k; what remains at convergence is the
    * k-core, the standard "dense backbone" extraction.
    *
    * Each round checkpoints the surviving subgraph's degree table. If no
    * node in it has degree < k, the subgraph is the k-core and that
    * table IS the answer (the test is a `count_if(deg < k)` that rides on
    * the table's cut, [[graft.Fixpoint]]: no job of its own, no
    * confirming peel and no edge counts). Otherwise the round peels: two
    * semi-joins of the edge frame against the qualifying nodes, which
    * are broadcast when the table's block bytes are under the session
    * broadcast threshold ([[probeSide]]) and shuffle-hashed otherwise.
    * Convergence-or-throw: `rounds` caps the peels; a graph that still
    * has a degree-< k node after `rounds` peels throws. Everything is
    * integer arithmetic on exact degree counts — the hash oracle is
    * exact by construction.
    *
    * ORACLE VALIDITY: the DuckDB twin is the peel unrolled to 8
    * MATERIALIZED rounds ([[kCoreSql]]); peels on a converged frame are
    * no-ops (semi-joins only remove edges), so both engines emit the
    * unique k-core whenever Spark converges within the default cap of 8
    * peels (it throws otherwise).
    *
    * Scale shape: each round is ONE degree aggregate (both endpoints
    * unioned, map-side combine collapses to distinct nodes per partition
    * before the exchange) plus two semi-joins keyed on a node id — every
    * frame linear in surviving edges, nothing quadratic, no local loop
    * over collected data. The edge frame (read by the degree aggregate and the
    * peel) and the degree table (read by both semi-joins and returned
    * at convergence) are cut every round — exchange reuse does not fire
    * across such references, the [[hits]] measurement — and each
    * superseded cut is released immediately (graft.Blocks). */
  def kCore(edges: DataFrame, k: Int = 2, rounds: Int = 8): DataFrame = {
    // a round cuts the degree table of its edge set, then either finds no
    // degree-< k node (the state becomes that table: converged) or peels;
    // the cap is `rounds` peels plus the round that confirms the core
    val (deg, _) = Fixpoint.converge("kCore", rounds + 1, (undirected(edges), false))(_._2) {
      case (r, (e, _)) =>
        val (deg, m) = r.cut(e.select(col("a").as("node"))
          .unionAll(e.select(col("b").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg")),
          count_if(col("deg") < k))
        if (m.getLong(0) == 0) (deg, true)
        else {
          val ok = probeSide(deg.where(col("deg") >= k).select(col("node")),
            graft.Blocks.blockBytes(deg).getOrElse(Long.MaxValue))
          val next = e
            .join(ok.select(col("node").as("a")), Seq("a"), "left_semi")
            .join(ok.select(col("node").as("b")), Seq("b"), "left_semi")
          r.observe(next)
          (r.cut(next), false)
        }
    }
    deg.select(col("node").as("paper_id"), col("deg").as("core_deg"))
  }

  /** DuckDB twin of [[kCore]]: the bounded peel UNROLLED one CTE per round
    * (same portable spelling as [[pageRankSql]] — standard SQL forbids
    * aggregation inside a recursive term). Inner joins against the
    * qualifying-node set are the semi-joins; all arithmetic is exact
    * integer counting. Each round's CTEs are MATERIALIZED: DuckDB inlines
    * plain CTEs at every reference, and a peel round references its
    * predecessor three times (degree scan + both join probes), so the
    * inlined plan fans out 3^rounds parquet scans — 6,561 at 8 rounds,
    * which exceeds the process fd limit before it exceeds anyone's
    * patience. Materialization makes the oracle linear in rounds, exactly
    * like the Spark side's checkpoint cuts. */
  def kCoreSql(k: Int = 2, rounds: Int = 8): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |        SELECT node FROM (SELECT a AS node FROM e${i - 1}
         |                          UNION ALL SELECT b FROM e${i - 1})
         |        GROUP BY 1 HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (
         |        SELECT p.a, p.b FROM e${i - 1} p
         |        JOIN d$i da ON p.a = da.node
         |        JOIN d$i db ON p.b = db.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT CAST(l_orderkey AS VARCHAR) AS src,
       |         CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
       |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |       FROM e WHERE src <> dst),
       |$steps
       |SELECT paper_id, count(*) AS core_deg
       |FROM (SELECT a AS paper_id FROM e$rounds
       |      UNION ALL SELECT b FROM e$rounds)
       |GROUP BY 1 ORDER BY paper_id""".stripMargin
  }

  /** HITS hubs-and-authorities (Kleinberg, JACM 46(5), 1999) on the
    * directed citation graph, fixed iteration count, L2-normalized each
    * half-step exactly as Kleinberg specifies. On this bipartite
    * order-cites-part graph authorities are the heavily-cited papers
    * weighted by how concentrated their citers are, hubs the citers whose
    * reference lists point at strong authorities — the classic
    * "survey paper" detector. Edge multiplicity is kept (same convention
    * as [[pageRank]]): citing twice counts twice, mirrored in the oracle.
    *
    * Float discipline (the [[pageRankSql]] precedent): both engines run
    * operation-identical IEEE doubles — one multiply+sum aggregate, one
    * `sqrt` (correctly rounded by IEEE-754, unlike libm transcendentals),
    * one division per half-step — so cross-engine divergence is summation
    * ORDER only, ~1e-15 relative, seven orders below the final
    * `round(x, 8)` grid at the ~1/√n score scale.
    *
    * Scale shape (round-9 restructure): SPARSE score frames + per-half-
    * step lineage cuts + both edge orientations pinned once.
    *
    *  - Sparse, not carried: a node with no in-edges has authority 0,
    *    and a zero score contributes nothing to any message sum or L2
    *    norm — so the per-round "re-instate missing nodes" left-outer
    *    join (round 8 paid it twice per round, plus a final zip join)
    *    is mathematically dead weight inside the loop. Score frames
    *    only hold nodes with inbound mass; re-instatement at 0 happens
    *    in ONE final left-outer zip against the node frame, giving
    *    value-identical results to the dense [[hitsSql]] unrolling.
    *  - A half-step is therefore ONE message join + ONE map-side-
    *    combined aggregate; the L2 norm is a 1-row broadcast frame
    *    folded into the next projection (never a driver collect).
    *  - Cut after EVERY half-step: a half-step's frame is referenced
    *    twice downstream (norm aggregate + next message join), and
    *    Spark inlines each reference as an independent subtree with NO
    *    exchange reuse across them (measured: zero ReusedExchange) — a
    *    round-cadence cut re-EXECUTES un-cut half-steps ~2× per
    *    reference (round 8's cadence-2 shape: 27.9 s; the carried-
    *    column rework of it: 36.2 s; this shape: single-digit).
    *    Superseded cuts release immediately (graft.Blocks), so the
    *    block-manager footprint stays O(one score frame) + the two
    *    edge pins.
    *  - Edges pinned in BOTH orientations (src-hash for the authority
    *    message join, dst-hash for the hub one): 2× edge memory, zero
    *    per-round edge re-exchanges — and the aggregate's output hash
    *    (on dst, aliased id) matches the NEXT half-step's join key, so
    *    steady-state each half-step shuffles exactly once (the message
    *    aggregate no HITS formulation avoids). */
  def hits(edges: DataFrame, iterations: Int = 6): DataFrame = {
    require(iterations >= 1, "hits needs at least one iteration")
    val eSrc = Blocks.cut(edges, "src")
    val eDst = Blocks.cut(eSrc, "dst")
    // each union side is hashed on its id; while both cuts sit at the
    // same width (the floor, 4) the union keeps that partitioning and the
    // distinct plans no exchange. At scale eSrc is sized from the edges'
    // file bytes, eDst from eSrc's block bytes and this cut from both, so
    // the widths can differ and the distinct and this cut re-exchange
    // (once, at set-up; the rounds read the cuts as declared).
    val nodes = Blocks.cut(eSrc.select(col("src").as("id"))
      .union(eDst.select(col("dst").as("id"))).distinct(), "id")
    // round 0: hub = 1.0 on every node (dense by definition); no authority
    val hub0 = nodes.select(col("id"), lit(1.0).as("hub"))
    val (auth, hub) = Fixpoint.rounds(iterations, (null: DataFrame, hub0)) { case (r, (_, hub)) =>
      // authority half-step: araw = Σ hub over in-edges (sparse: nodes
      // without in-edges are simply absent — they are exact zeros)
      // shuffle_hash on the score side: hash-building the node-scale
      // score frame beats re-sorting the edge-scale side every half-step
      // (SMJ would sort 600k+ edges 2×/round; the hash build is O(nodes))
      val aCut = r.cut(eSrc.join(hub.hint("shuffle_hash"), eSrc("src") === hub("id"))
        .groupBy(eSrc("dst").as("id")).agg(sum(col("hub")).as("araw")))
      val anorm = broadcast(
        aCut.agg(sqrt(sum(col("araw") * col("araw"))).as("anorm")))
      val auth = aCut.crossJoin(anorm)
        .select(col("id"), (col("araw") / col("anorm")).as("auth"))
      // hub half-step: hraw = Σ auth over out-edges, same shape transposed
      val hCut = r.cut(eDst.join(auth.hint("shuffle_hash"), eDst("dst") === auth("id"))
        .groupBy(eDst("src").as("id")).agg(sum(col("auth")).as("hraw")))
      val hnorm = broadcast(
        hCut.agg(sqrt(sum(col("hraw") * col("hraw"))).as("hnorm")))
      (auth, hCut.crossJoin(hnorm)
        .select(col("id"), (col("hraw") / col("hnorm")).as("hub")))
    }
    graft.Blocks.release(eSrc)
    graft.Blocks.release(eDst)
    // ONE re-instatement zip at the end: absent sparse entries are the
    // exact zeros the dense unrolling carries through every round
    nodes
      .join(auth, Seq("id"), "left_outer")
      .join(hub, Seq("id"), "left_outer")
      .select(col("id").as("paper_id"),
        round(coalesce(col("auth"), lit(0.0)), 8).as("auth"),
        round(coalesce(col("hub"), lit(0.0)), 8).as("hub"))
  }

  /** DuckDB twin of [[hits]], unrolled one CTE pair per round with the
    * same operation-for-operation arithmetic ([[pageRankSql]] discipline)
    * and MATERIALIZED cuts (the [[kCoreSql]] lesson — inlined, each round
    * multiplies scan fan-out ~3×). */
  def hitsSql(iterations: Int = 6): String = {
    val rounds = (1 to iterations).map { k =>
      s"""a${k}raw AS MATERIALIZED (
         |  SELECT n.id, coalesce(x.s, 0.0) AS araw FROM nodes n
         |  LEFT JOIN (SELECT e.dst AS id, sum(p.hub) AS s
         |             FROM e JOIN s${k - 1} p ON p.id = e.src
         |             GROUP BY 1) x USING (id)),
         |a$k AS MATERIALIZED (
         |  SELECT id, araw / (SELECT sqrt(sum(araw * araw)) FROM a${k}raw)
         |           AS auth FROM a${k}raw),
         |h${k}raw AS MATERIALIZED (
         |  SELECT n.id, coalesce(x.s, 0.0) AS hraw FROM nodes n
         |  LEFT JOIN (SELECT e.src AS id, sum(p.auth) AS s
         |             FROM e JOIN a$k p ON p.id = e.dst
         |             GROUP BY 1) x USING (id)),
         |s$k AS MATERIALIZED (
         |  SELECT a.id, a.auth,
         |         h.hraw / (SELECT sqrt(sum(hraw * hraw)) FROM h${k}raw)
         |           AS hub
         |  FROM a$k a JOIN h${k}raw h USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT CAST(l_orderkey AS VARCHAR) AS src,
       |         CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |s0 AS MATERIALIZED (
       |  SELECT id, CAST(1.0 AS DOUBLE) AS auth,
       |         CAST(1.0 AS DOUBLE) AS hub FROM nodes),
       |$rounds
       |SELECT id AS paper_id, round(auth, 8) AS auth, round(hub, 8) AS hub
       |FROM s$iterations ORDER BY paper_id""".stripMargin
  }

  /** Weakly-connected components: min-label propagation run to detected
    * CONVERGENCE (≤ `rounds`, throws beyond — the `dedupClusters` cap
    * discipline). Every node starts labeled with its own id; each round
    * a node's label becomes the minimum of its own and its neighbors'
    * (both directions) — ONE edge-scale message join + min aggregate +
    * node-scale zip — and the loop exits on the first no-change round
    * instead of running a fixed cap (measured: fixpoint at round 6 of
    * the previous fixed 10 at sf0.1 — 30% of the rounds were no-ops).
    * Convergence is detected from a flag CARRIED THROUGH THE CUT (the
    * zip already computes `ml < label`; counting it is a checkpoint
    * scan), never a separate join of label frames. A pointer-halving
    * shortcut hop was tried and REVERTED (round 10): compressing
    * label → label(label) halves distances for parent POINTERS, but a
    * min-of-ball label's argmin node is not better-informed than the
    * ball itself, and measured rounds stayed at diameter (7 vs 6) while
    * each round paid an extra node-scale join.
    *
    * ORACLE VALIDITY: the DuckDB twin stays the plain propagation
    * unrolled to 10 MATERIALIZED rounds ([[componentsSql]]). The engines
    * agree because both reach the UNIQUE fixpoint (min reachable id per
    * node — an algorithm-independent object): Spark by detected
    * convergence, DuckDB because its cap exceeds the measured
    * convergence round at every gated sf (verified 10-vs-11-round
    * identical at sf0.01 AND sf0.1). AnalyticsExtraSpec asserts the
    * fixpoint PROPERTY on the output — label(u) = label(v) across every
    * edge, label ≤ id, label(label) = label — exactly the condition
    * under which the formulations coincide. Exact string comparison
    * throughout; no float discipline needed.
    *
    * Scale/lifecycle shape ([[hits]] lessons): the undirected edge frame
    * is pinned once, partitioned on the message key — duplicate edges
    * are NOT deduplicated first (min is duplicate-insensitive, and the
    * `distinct` was a full extra shuffle of the edge set ahead of the
    * `repartition` it immediately re-shuffled); the message join
    * hash-builds the node-scale label side (shuffle_hash) against that
    * pinned partitioning; labels are cut once per round with superseded
    * cuts released immediately; the edge frame is released after the
    * loop (the returned frame reads only the final cut). */
  def components(edges: DataFrame, rounds: Int = 10): DataFrame = {
    // both directions: a node hears the labels of every neighbor
    val und = Blocks.cut(edges.where(col("src") =!= col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
      .union(edges.where(col("src") =!= col("dst"))
        .select(col("dst").as("u"), col("src").as("v"))), "u")
    // und is partitioned on u, so the node-id distinct needs no exchange
    val labels0 = Blocks.cut(und.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("label")), "id")
    val (labels, _) = Fixpoint.converge("components", rounds, (labels0, false))(_._2) {
      case (r, (labels, _)) =>
        val msg = und.join(labels.hint("shuffle_hash"), und("u") === labels("id"))
          .groupBy(und("v").as("id")).agg(min(col("label")).as("ml"))
        val (cut, m) = r.cut(labels.join(msg, Seq("id"))
          .select(col("id"), least(col("label"), col("ml")).as("label"),
            (col("ml") < col("label")).as("chg")), count_if(col("chg")))
        (cut.select(col("id"), col("label")), m.getLong(0) == 0)
    }
    graft.Blocks.release(und) // the returned frame reads only the final cut
    labels.select(col("id").as("paper_id"), col("label").as("component"))
  }

  /** DuckDB twin of [[components]]: the bounded propagation UNROLLED one
    * MATERIALIZED CTE per round ([[kCoreSql]] discipline — a round
    * references its predecessor twice, so inlined CTEs would fan the
    * scan out 2^rounds). Exact string min/least on both engines. */
  def componentsSql(rounds: Int = 10): String = {
    val steps = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT p.id, least(p.label, m.ml) AS label
         |  FROM l${i - 1} p
         |  JOIN (SELECT und.v AS id, min(q.label) AS ml
         |        FROM und JOIN l${i - 1} q ON q.id = und.u
         |        GROUP BY 1) m ON m.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT CAST(l_orderkey AS VARCHAR) AS src,
       |         CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
       |und AS MATERIALIZED (
       |  SELECT src AS u, dst AS v FROM e WHERE src <> dst
       |  UNION
       |  SELECT dst, src FROM e WHERE src <> dst),
       |l0 AS MATERIALIZED (
       |  SELECT id, id AS label FROM (SELECT DISTINCT u AS id FROM und)),
       |$steps
       |SELECT id AS paper_id, label AS component
       |FROM l$rounds ORDER BY paper_id""".stripMargin
  }

  /** `citation_scc` (oracled): the strongly connected component of a
    * deterministic pivot — the FW–BW kernel step (Fleischer/Hendrickson/
    * Pınar 2000) that every distributed SCC algorithm runs first, because
    * removing the giant SCC is where nearly all the work is (here it
    * holds ~13% of nodes; the remainder of this corpus is singletons).
    * SCC(pivot) = forward-reach(pivot) ∩ backward-reach(pivot); the pivot
    * is the most-cited node (ties → smallest id, the O11 rule), asserted
    * non-trivial by the spec.
    *
    * Unlike the FLOAT fixpoints (pageRank/HITS), reachability is exact
    * set semantics — the fixpoint is round-count-agnostic, so the DuckDB
    * twin is a plain recursive `UNION` closure, not an unrolled
    * operation-identical CTE: both engines compute the same set or
    * nothing.
    *
    * Scale shape: the two reachability closures run FUSED as one tagged
    * traversal — the direction rides INSIDE the key (`F:`/`B:` prefix on
    * the node id), so the doubled edge frame `(dir∥from, dir∥to)` is
    * hash-partitioned ONCE on the probe key and every round is a single
    * shuffle_hash join + distinct + anti-join against the visited set,
    * with NO per-round re-exchange of the edges (the un-tagged form
    * either pays two loops — sum of the two diameters in driver round
    * trips — or re-shuffles the edge set on src/dst each round). Rounds
    * run to max(fwd diameter, bwd diameter): a direction that exhausts
    * early simply stops producing rows.
    *
    * Fixed-cost discipline (the r10→r11 probe findings — per-round cost
    * at sf0.1 is flat stage overhead, so setup jobs and per-round
    * materializations ARE the bill):
    *  - edge prep is ONE shuffle: tag first, `repartition(k)`, then a
    *    PARTITION-LOCAL `dropDuplicates(k, t)` — hashpartitioning(k)
    *    already clusters (k, t), so Catalyst plans no second exchange —
    *    and the pivot (max in-degree, ties → smallest id, the O11 rule)
    *    reads e2's checkpointed F-slice instead of a separate deduped
    *    base frame;
    *  - the visited set is the UNION of the per-round checkpointed cuts
    *    (≤ rounds frames, each lineage-free), not a re-checkpointed
    *    grown frame — one materialization per round, not two;
    *  - the final ∩ is one semi-join between the two tag slices,
    *    checkpointed so every intermediate block can be released before
    *    return.
    * Convergence is the natural empty frontier; the cap only guards
    * runaway diameters (non-convergence throws, the components
    * contract).
    *
    * `rounds` counts DOUBLE-HOP driver round trips: each round takes two
    * hops (h1 = frontier's neighbors, h2 = their neighbors), so the
    * traversal explores up to `2 × rounds` hops — the default of 16
    * keeps the hop budget at 32. */
  def sccPivot(edges: DataFrame, rounds: Int = 16): DataFrame = {
    val raw = edges.where(col("src") =!= col("dst"))
    // traversal parallelism: every per-round stage inherits the pinned
    // e2 side's width, so the cut's size-aware partition count (bytes /
    // target, NOT the session shuffle default) is the scale carrier:
    // ~1 at sf0.1 where per-task overhead dominates (32-way micro-tasks
    // billed 3+ s/run over 8-way in r14 probes), thousands at 100 TB
    // F rows walk src→dst, B rows walk dst→src; one pinned partitioning
    // on the tagged probe key serves both directions every round, and
    // the (k, t) dedup is the cut's shape step, inside its one exchange
    val tagged = raw
      .select(concat(lit("F:"), col("src")).as("k"),
        concat(lit("F:"), col("dst")).as("t"))
      .unionByName(raw
        .select(concat(lit("B:"), col("dst")).as("k"),
          concat(lit("B:"), col("src")).as("t")))
    val e2 = Blocks.cut(tagged, Seq("k"))(_.dropDuplicates("k", "t"))
    // pivot from the F-slice: t = "F:" ∥ dst, so groupBy(t) is the
    // in-degree count and the constant prefix preserves the id tie-order
    val pivot = e2.where(col("k").startsWith("F:"))
      .groupBy(col("t")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("t").asc).limit(1)
      .select(substring(col("t"), 3, Int.MaxValue).as("id"))
    val seed = pivot
      .select(explode(array(concat(lit("F:"), col("id")),
        concat(lit("B:"), col("id")))).as("id")).localCheckpoint()
    val (visited, frontier, _) = Fixpoint.converge("sccPivot", rounds, (seed, seed, false))(_._3) {
      case (r, (visited, frontier, _)) =>
        // TWO hops per round: at sf0.1 the per-round cost is flat
        // (~1 s whether the frontier is 8 or 54k rows — pure stage
        // overhead), so the round count, not data volume, is the bill;
        // the double-step halves driver round-trips. h1 appears both in
        // the union and as h2's probe, but its distinct exchange is
        // identical in both branches (ReusedExchange) and its output
        // partitioning (by id) feeds the h2 join without a re-exchange.
        val h1 = e2.join(frontier.hint("shuffle_hash"), e2("k") === frontier("id"))
          .select(col("t").as("id")).distinct()
        val h2 = e2.join(h1.hint("shuffle_hash"), e2("k") === h1("id"))
          .select(col("t").as("id"))
        val (cutN, m) = r.cut(h1.unionByName(h2).distinct()
          .join(visited, Seq("id"), "left_anti"), count(lit(1)))
        // an empty frontier is the fixpoint: its cut is dropped, the state kept
        if (m.getLong(0) == 0) (visited, frontier, true)
        else (r.cut(visited.union(cutN)), cutN, false)
    }
    val fwd = visited.where(col("id").startsWith("F:"))
      .select(substring(col("id"), 3, Int.MaxValue).as("id"))
    val bwd = visited.where(col("id").startsWith("B:"))
      .select(substring(col("id"), 3, Int.MaxValue).as("id"))
    // eager cut so every traversal block (edges + all visited cuts) can
    // be released before the caller ever executes the returned frame
    val scc = fwd.join(bwd, Seq("id"), "left_semi")
      .select(col("id").as("paper_id"))
      .localCheckpoint()
    Seq(e2, visited, frontier).foreach(graft.Blocks.release)
    scc
  }

  val sccPivotSql: String =
    """WITH RECURSIVE e AS MATERIALIZED (
      |  SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS src,
      |         CAST(l_partkey AS VARCHAR) AS dst
      |  FROM lineitem WHERE l_orderkey <> l_partkey),
      |pv AS (
      |  SELECT dst AS id FROM e
      |  GROUP BY dst ORDER BY count(*) DESC, dst ASC LIMIT 1),
      |fwd(id) AS (
      |  SELECT id FROM pv
      |  UNION
      |  SELECT e.dst FROM e JOIN fwd ON e.src = fwd.id),
      |bwd(id) AS (
      |  SELECT id FROM pv
      |  UNION
      |  SELECT e.src FROM e JOIN bwd ON e.dst = bwd.id)
      |SELECT f.id AS paper_id
      |FROM fwd f JOIN bwd b ON f.id = b.id
      |ORDER BY paper_id""".stripMargin

  /** `citation_scc_all` (oracled): the FULL SCC decomposition — every
    * node labeled with its strongly connected component (scc_id = the
    * component's smallest member id, an algorithm-independent canonical
    * label) and the component's size. The classic iterated
    * trim + FW–BW scheme (Fleischer/Hendrickson/Pınar 2000; Hong et al.
    * 2013's trim refinement), shaped for dataflow:
    *
    *  1. TRIM to the directed core: peel nodes with in-degree 0 or
    *     out-degree 0 (keep = srcs ∩ dsts) to a bounded fixpoint — a
    *     peeled node can sit on no cycle, so it is its own singleton
    *     SCC. Each peel round is the [[kCore]] shape: one distinct-key
    *     semi-join builds the keep set, two semi-joins restrict the
    *     edges, count-equality detects the fixpoint (the edge set
    *     shrinks monotonically, so equal counts ⇒ equal sets).
    *     Measured: the driver corpus peels to EXACTLY the giant SCC in
    *     3/5/6 rounds at sf0.001/0.01/0.1 — the closures then traverse
    *     77k core edges instead of 600k at sf0.1.
    *  2. EXTRACT SCC(pivot) from the core via [[sccPivot]]'s fused
    *     tagged traversal (pivot = the core's max in-degree node, ties
    *     → smallest id), label it with min(member), remove its nodes.
    *  3. REPEAT from 1 on the residual — every surviving cycle lives in
    *     the re-trimmed core — up to `pivotRounds` extractions
    *     (convergence-or-throw, the [[components]] contract; one
    *     non-trivial SCC per iteration is removed, and this corpus has
    *     exactly one).
    *  4. Everything never extracted is a singleton: label = own id,
    *     size 1 — one anti-join of the node frame against the union of
    *     extracted members.
    *
    * SCC labels are exact set semantics (like [[sccPivot]]), so the
    * DuckDB twin mirrors the same bounded schedule — `trimRounds`
    * unrolled peel CTEs (no-ops past the fixpoint) + recursive-UNION
    * closures per pivot iteration — and must produce the identical
    * labeling or hash-mismatch loudly.
    *
    * Scale shape: trim rounds and residual computation are
    * edge-frame semi/anti-joins (shuffle-partitioned, no broadcast of
    * anything corpus-sized); the only driver-side values are per-round
    * counts; the per-SCC (min, size) fold is a 1-row broadcast. At
    * 100 TB the trim typically removes the vast majority of nodes
    * (power-law corpora are mostly acyclic tendrils), so the expensive
    * closure runs on the small cyclic core. */
  def sccAll(edges: DataFrame, trimRounds: Int = 10, pivotRounds: Int = 2): DataFrame = {
    // same width rule as sccPivot: the keyed cut sizes itself from real
    // input bytes — per-trim-round stages are overhead-bound at sf0.1,
    // edge-proportional at 100 TB
    val e0 = directedBySrc(edges)
    val nodes = nodeIds(e0).localCheckpoint()
    // (residual edges, their count, per-SCC (paper_id, scc_id, scc_size))
    val (rem, _, sccFrames) = Fixpoint.converge("sccAll", pivotRounds,
        (e0, e0.count(), List.empty[DataFrame]))(_._2 == 0) {
      case (r, (rem, edgesLeft, found)) =>
        // trim to the directed core (bounded fixpoint, kCore discipline)
        val (e, left, _) = Fixpoint.converge("sccAll trim", trimRounds,
            (rem, edgesLeft, false))(_._3) { case (t, (e, prev, _)) =>
          val keep = e.select(col("src").as("n")).distinct()
            .join(e.select(col("dst").as("n")).distinct(), Seq("n"), "left_semi")
          val (cut, m) = t.cut(e
            .join(keep.select(col("n").as("src")), Seq("src"), "left_semi")
            .join(keep.select(col("n").as("dst")), Seq("dst"), "left_semi")
            .select(col("src"), col("dst")), count(lit(1)))
          val n = m.getLong(0)
          (cut, n, n == prev)
        }
        if (left == 0) (e, 0L, found) // the residual is acyclic: singletons
        else {
          val s = sccPivot(e) // checkpointed member frame (paper_id)
          val meta = s.agg(min(col("paper_id")).as("scc_id"),
            count(lit(1)).as("scc_size"))
          val (remNxt, m) = r.cut(e
            .join(s.select(col("paper_id").as("src")), Seq("src"), "left_anti")
            .join(s.select(col("paper_id").as("dst")), Seq("dst"), "left_anti")
            .select(col("src"), col("dst")), count(lit(1)))
          (remNxt, m.getLong(0), s.crossJoin(broadcast(meta)) :: found)
        }
    }
    val members = sccFrames.map(_.select(col("paper_id")))
      .reduceOption(_ unionByName _)
    val singles = members
      .map(m => nodes.join(m.withColumnRenamed("paper_id", "id"),
        Seq("id"), "left_anti"))
      .getOrElse(nodes)
      .select(col("id").as("paper_id"), col("id").as("scc_id"),
        lit(1L).as("scc_size"))
    graft.Blocks.release(rem)
    sccFrames.foldLeft(singles)(_ unionByName _)
  }

  /** DuckDB twin of [[sccAll]]: the same bounded schedule —
    * `trimRounds` MATERIALIZED peel CTEs per pivot iteration (no-ops
    * past the fixpoint, the [[kCoreSql]] discipline), a recursive-UNION
    * closure pair per pivot (exact set semantics, the [[sccPivotSql]]
    * convention), singleton labeling as one left join at the end.
    *
    * DuckDB 1.0 trap: under `WITH RECURSIVE`, a NON-self-referencing
    * CTE's top-level `UNION` silently loses its dedup (measured: 3-row
    * union returns 6). Every set-union in this twin is therefore either
    * a genuinely recursive CTE (where UNION's fixpoint semantics are
    * correct) or an explicit `SELECT DISTINCT` over `UNION ALL`. */
  /** The CTE prefix shared by [[sccAllSql]] and [[sccCondensationSql]]:
    * e0 / nodes / the unrolled trim-and-pivot iterations / insccs. */
  private def sccAllCtes(trimRounds: Int, pivotRounds: Int): String = {
    def iteration(p: Int, inEdges: String): String = {
      val trims = (1 to trimRounds).map { t =>
        s"""t${p}_$t AS MATERIALIZED (
           |  SELECT src, dst FROM t${p}_${t - 1}
           |  WHERE src IN (SELECT dst FROM t${p}_${t - 1})
           |    AND dst IN (SELECT src FROM t${p}_${t - 1}))""".stripMargin
      }.mkString(",\n")
      val tn = s"t${p}_$trimRounds"
      s"""t${p}_0 AS MATERIALIZED (SELECT src, dst FROM $inEdges),
         |$trims,
         |pv$p AS (SELECT dst AS id FROM $tn
         |         GROUP BY dst ORDER BY count(*) DESC, dst ASC LIMIT 1),
         |f$p(id) AS (SELECT id FROM pv$p
         |  UNION SELECT e.dst FROM $tn e JOIN f$p ON e.src = f$p.id),
         |b$p(id) AS (SELECT id FROM pv$p
         |  UNION SELECT e.src FROM $tn e JOIN b$p ON e.dst = b$p.id),
         |s$p AS MATERIALIZED (
         |  SELECT f.id FROM f$p f JOIN b$p b ON f.id = b.id),
         |r$p AS MATERIALIZED (
         |  SELECT src, dst FROM $tn
         |  WHERE src NOT IN (SELECT id FROM s$p)
         |    AND dst NOT IN (SELECT id FROM s$p))""".stripMargin
    }
    val iters = (1 to pivotRounds)
      .map(p => iteration(p, if (p == 1) "e0" else s"r${p - 1}"))
      .mkString(",\n")
    val memberSel = (1 to pivotRounds).map(p =>
      s"""SELECT id, (SELECT min(id) FROM s$p) AS scc_id,
         |         (SELECT count(*) FROM s$p) AS scc_size FROM s$p""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    s"""WITH RECURSIVE e0 AS MATERIALIZED (
       |  SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS src,
       |         CAST(l_partkey AS VARCHAR) AS dst
       |  FROM lineitem WHERE l_orderkey <> l_partkey),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT id FROM (
       |    SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0)),
       |$iters,
       |insccs AS MATERIALIZED (
       |  $memberSel)""".stripMargin
  }

  def sccAllSql(trimRounds: Int = 10, pivotRounds: Int = 2): String =
    s"""${sccAllCtes(trimRounds, pivotRounds)}
       |SELECT n.id AS paper_id,
       |       coalesce(s.scc_id, n.id) AS scc_id,
       |       CAST(coalesce(s.scc_size, 1) AS BIGINT) AS scc_size
       |FROM nodes n LEFT JOIN insccs s ON s.id = n.id
       |ORDER BY paper_id""".stripMargin

  /** `citation_scc_condensation` (oracled): the condensation DAG — the
    * graph OF the SCCs, each edge (src_scc, dst_scc) with its multiplicity
    * of underlying distinct edges; intra-SCC edges vanish. This is the
    * acyclic quotient every cycle-sensitive downstream pass (topological
    * layering, longest-path dating, dependency levelling) actually wants
    * to run on. By construction it contains no self-loops and — because
    * SCCs are maximal — no cycles.
    *
    * Scale shape: two keyed joins decorate the edge frame with its
    * endpoint labels (node-frame build sides, shuffle-partitioned), then
    * one partial-aggregable count. The decomposition itself is
    * [[sccAll]] (bounded trim + pivot extraction), reused verbatim. */
  def sccCondensation(edges: DataFrame, trimRounds: Int = 10,
                      pivotRounds: Int = 2): DataFrame =
    sccCondensationFrom(edges,
      sccAll(edges, trimRounds, pivotRounds).localCheckpoint())

  /** [[sccCondensation]] over a PRE-COMPUTED labeling — the label-frame
    * overload the per-dataset model cache ([[sccLabelsCached]]) wires
    * through, so the decomposition is paid once per dataset, not once per
    * consumer. Bit-identical to the self-labeling form: same labels →
    * same quotient. */
  def sccCondensationFrom(edges: DataFrame, labelsIn: DataFrame): DataFrame = {
    val labels = labelsIn.select(col("paper_id"), col("scc_id"))
    val e = edges.where(col("src") =!= col("dst")).distinct()
    e.join(labels.select(col("paper_id").as("src"), col("scc_id").as("src_scc")),
        Seq("src"))
      .join(labels.select(col("paper_id").as("dst"), col("scc_id").as("dst_scc")),
        Seq("dst"))
      .where(col("src_scc") =!= col("dst_scc"))
      .groupBy(col("src_scc"), col("dst_scc"))
      .agg(count(lit(1)).as("n_edges"))
  }

  /** The full SCC labeling as a per-dataset MODEL ARTIFACT (the
    * [[graft.operators.Similarity]] `centroidCache` precedent): every
    * cycle-aware consumer — the labeling query itself, the condensation,
    * the topological layers — needs the identical decomposition, and
    * before this cache the bench paid it ~3.5× per suite (r12 verdict:
    * ~59 s, 21% of the total). The labels are node-sized, so unlike the
    * centroid model they stay DISTRIBUTED: the cache holds one pinned
    * local checkpoint per (session, dataset) — [[graft.Blocks.pin]]
    * exempts it from the harness's between-queries sweep — which is the
    * in-session stand-in for what a production deployment does with the
    * decomposition of a 100-TB graph: persist it to a table once and let
    * every downstream query read the table. Reuse is bit-identical by
    * construction: consumers read the same materialized label rows. */
  private val sccLabelCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def sccLabelsCached(s: SparkSession, d: String): DataFrame =
    sccLabelCache.computeIfAbsent(s.sparkContext.applicationId + "|" + d, _ => {
      val labels = sccAll(edges(s, d)).localCheckpoint()
      graft.Blocks.pin(labels)
      labels
    })

  /** DuckDB twin of [[sccCondensation]]: the [[sccAllSql]] CTE prefix,
    * then the same two label joins + group. */
  def sccCondensationSql(trimRounds: Int = 10, pivotRounds: Int = 2): String =
    s"""${sccAllCtes(trimRounds, pivotRounds)},
       |lab AS MATERIALIZED (
       |  SELECT n.id, coalesce(s.scc_id, n.id) AS scc_id
       |  FROM nodes n LEFT JOIN insccs s ON s.id = n.id)
       |SELECT ls.scc_id AS src_scc, ld.scc_id AS dst_scc,
       |       count(*) AS n_edges
       |FROM e0
       |JOIN lab ls ON ls.id = e0.src
       |JOIN lab ld ON ld.id = e0.dst
       |WHERE ls.scc_id <> ld.scc_id
       |GROUP BY 1, 2
       |ORDER BY src_scc, dst_scc""".stripMargin

  /** `citation_scc_layers` (oracled): topological levels over the SCC
    * condensation DAG — for every SCC, `level` = the length of the
    * LONGEST path from any source SCC (in-degree 0) reaching it, with
    * sources at level 0. This is the consumer [[sccCondensation]]'s doc
    * promises: dependency levelling (level k can only depend on levels
    * < k) and longest-path citation dating (a paper's level bounds how
    * deep a citation chain must be to reach it), run on the acyclic
    * quotient where longest-path is well-defined (on the raw graph,
    * cycles make it meaningless).
    *
    * Algorithm: monotone level propagation (the [[components]]
    * discipline) — each round, level(v) := max(level(v),
    * max over condensation edges u→v of level(u)+1). Levels only grow
    * and the DAG is acyclic BY CONSTRUCTION (SCCs are maximal), so the
    * fixpoint exists and lands in exactly max-level rounds; one more
    * round detects it via the monotone sum(level) scalar (equal
    * consecutive sums ⟺ no level moved ⟺ fixpoint, since levels never
    * decrease). Convergence-or-throw at `levelRounds`.
    *
    * Cap evidence (r12 probe, committed in PLANS.md): max level is
    * 3 / 6 / 8 at sf0.001/0.01/0.1 — detection lands at rounds 4/7/9 —
    * and the 10× soak graph is ten DISJOINT suffix-tagged copies of the
    * sf0.1 graph, so its level structure is identical per copy (max
    * level 8). levelRounds=12 holds 3 rounds of headroom over the
    * largest measured fixpoint.
    *
    * Scale shape: everything after [[sccAll]] runs on SCC-sized frames
    * (|sccs| ≤ |nodes|, condensation edges ≤ |edges|): two keyed joins
    * build the deduped condensation ONCE (pinned partitioning, reused
    * every round), each round is one shuffle_hash join + a
    * partial-aggregable max + a left join, and the only driver-side
    * value is the per-round sum scalar. Superseded level cuts are
    * released in-loop, so peak footprint is O(one iterate). */
  def sccLayers(edges: DataFrame, trimRounds: Int = 10, pivotRounds: Int = 2,
                levelRounds: Int = 12): DataFrame =
    sccLayersFrom(edges, sccAll(edges, trimRounds, pivotRounds).localCheckpoint(),
      levelRounds, releaseLabels = true)

  /** [[sccLayers]] over a PRE-COMPUTED labeling (see
    * [[sccCondensationFrom]]); `releaseLabels` stays false for cached
    * label frames — the cache owns their lifecycle, not this consumer. */
  def sccLayersFrom(edges: DataFrame, labels: DataFrame,
                    levelRounds: Int = 12,
                    releaseLabels: Boolean = false): DataFrame = {
    // same width rule as sccPivot: condensation frames are ≤ node-sized,
    // so per-round stages are overhead-bound — the keyed cut sizes
    // itself from real input bytes
    val ce = Blocks.cut(edges.where(col("src") =!= col("dst")).distinct()
      .join(labels.select(col("paper_id").as("src"), col("scc_id").as("src_scc")),
        Seq("src"))
      .join(labels.select(col("paper_id").as("dst"), col("scc_id").as("dst_scc")),
        Seq("dst"))
      .where(col("src_scc") =!= col("dst_scc"))
      .select(col("src_scc"), col("dst_scc")).distinct(), "src_scc")
    // one row per SCC; scc_size rides along from sccAll's labeling. A
    // plain cut: no consumer keys on its (scc_id, scc_size) partitioning
    val sccs = labels.select(col("scc_id"), col("scc_size")).distinct()
      .localCheckpoint()
    if (releaseLabels) graft.Blocks.release(labels)
    val levels0 = sccs.select(col("scc_id"), lit(0L).as("level")).localCheckpoint()
    // the condensation is acyclic, so the fixpoint is the DAG's max level
    val (levels, _, _) = Fixpoint.converge("sccLayers", levelRounds,
        (levels0, 0L, false))(_._3) { case (r, (levels, prevSum, _)) =>
      val cand = ce.join(levels.hint("shuffle_hash"),
          ce("src_scc") === levels("scc_id"))
        .select(col("dst_scc").as("scc_id"), (col("level") + 1).as("lvl"))
        .groupBy(col("scc_id")).agg(max(col("lvl")).as("lvl"))
      val (cut, m) = r.cut(levels.select(col("scc_id"), col("level"))
        .join(cand, Seq("scc_id"), "left_outer")
        .select(col("scc_id"),
          greatest(col("level"), coalesce(col("lvl"), lit(0L))).as("level")),
        coalesce(sum(col("level")), lit(0L)))
      val s = m.getLong(0)
      (cut, s, s == prevSum)
    }
    val out = sccs.join(levels, Seq("scc_id"))
      .select(col("scc_id"), col("scc_size"), col("level"))
      .localCheckpoint()
    graft.Blocks.release(ce)
    graft.Blocks.release(sccs)
    graft.Blocks.release(levels)
    out
  }

  /** DuckDB twin of [[sccLayers]]: the [[sccAllSql]] CTE prefix, the
    * condensation's deduped edge frame, then `levelRounds` unrolled
    * MATERIALIZED level CTEs (no-ops past the fixpoint, the
    * [[componentsSql]] discipline) — each the same monotone
    * max(level, max_pred+1) step the Spark loop runs. */
  def sccLayersSql(trimRounds: Int = 10, pivotRounds: Int = 2,
                   levelRounds: Int = 12): String = {
    val steps = (1 to levelRounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT n.scc_id,
         |         CAST(greatest(n.level, coalesce(c.lvl, 0)) AS BIGINT) AS level
         |  FROM l${i - 1} n LEFT JOIN (
         |    SELECT ce.dst_scc AS scc_id, max(p.level) + 1 AS lvl
         |    FROM ce JOIN l${i - 1} p ON p.scc_id = ce.src_scc
         |    GROUP BY 1) c ON c.scc_id = n.scc_id)""".stripMargin
    }.mkString(",\n")
    s"""${sccAllCtes(trimRounds, pivotRounds)},
       |lab AS MATERIALIZED (
       |  SELECT n.id, coalesce(s.scc_id, n.id) AS scc_id,
       |         CAST(coalesce(s.scc_size, 1) AS BIGINT) AS scc_size
       |  FROM nodes n LEFT JOIN insccs s ON s.id = n.id),
       |sc AS MATERIALIZED (SELECT DISTINCT scc_id, scc_size FROM lab),
       |ce AS MATERIALIZED (
       |  SELECT DISTINCT ls.scc_id AS src_scc, ld.scc_id AS dst_scc
       |  FROM e0 JOIN lab ls ON ls.id = e0.src
       |          JOIN lab ld ON ld.id = e0.dst
       |  WHERE ls.scc_id <> ld.scc_id),
       |l0 AS MATERIALIZED (SELECT scc_id, CAST(0 AS BIGINT) AS level FROM sc),
       |$steps
       |SELECT s.scc_id, s.scc_size, l.level
       |FROM sc s JOIN l$levelRounds l USING (scc_id)
       |ORDER BY scc_id""".stripMargin
  }

  /** Label-propagation community detection (Raghavan et al. 2007),
    * synchronous flavor: every round each node adopts the label held by
    * the PLURALITY of its neighbors. Where [[components]] converges to a
    * connectivity fixpoint, LPA's plurality rule finds denser-than-
    * neighborhood groupings — and synchronous LPA famously need not
    * converge (bipartite structures oscillate), so the operator is
    * DEFINED as exactly `rounds` rounds and the DuckDB twin unrolls the
    * same count: engines agree because the per-round function is
    * deterministic, not because a fixpoint exists.
    *
    * Determinism inside a round: the plurality argmax rides a fixed-width
    * sort key `lpad(999999999999 − cnt) || label` — the zero-padded
    * inverted count compares first, the label string breaks ties toward
    * the lexicographically smallest (the O11 string-tie-break rule) — so
    * `min(key)` IS "most frequent label, smallest on ties" on both
    * engines, exact string ops throughout. The undirected frame is
    * DEDUPLICATED here (unlike [[components]], whose `min` is
    * duplicate-insensitive): multi-edges would vote multiple times, and
    * Spark's `union` keeps duplicates while the twin's `UNION` drops
    * them, so parity requires the explicit `distinct`.
    *
    * Scale shape per round: one shuffle_hash join against the pinned
    * edge partitioning + two partial-aggregable counts ((v,label) then
    * v) — no windows, no cartesians; labels cut per round with
    * superseded cuts released ([[components]] lifecycle). */
  def lpa(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val und = undirectedByU(edges)
    val labels0 = Blocks.cut(und.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("label")), "id")
    val labels = Fixpoint.rounds(rounds, labels0) { (r, labels) =>
      // ONE exchange feeds both aggregates: repartition on the message key
      // v, under which hashpartitioning(v) satisfies the (v,label) AND the
      // (v) clustering requirements — both groupBys run partition-local
      // (measured: the alternative two-exchange plan — (v,label) partials
      // then a second id exchange — costs ~25% more per round, and the
      // raw-message volume is ~the partial volume while labels are
      // near-distinct, which they are for most LPA rounds)
      val msg = und.join(labels.hint("shuffle_hash"), und("u") === labels("id"))
        .select(und("v").as("id"), col("label"))
        .repartition(col("id"))
        .groupBy(col("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("id"))
        .agg(min(concat(
          lpad((lit(999999999999L) - col("cnt")).cast("string"), 12, "0"),
          col("label"))).as("key"))
      r.cut(labels.join(msg, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(expr("substring(key, 13)"), col("label")).as("label")))
    }
    graft.Blocks.release(und)
    labels.select(col("id").as("paper_id"), col("label").as("community"))
  }

  /** DuckDB twin of [[lpa]], unrolled one MATERIALIZED CTE per round
    * (the [[componentsSql]] discipline). */
  def lpaSql(rounds: Int = 4): String = {
    val steps = (1 to rounds).map { i =>
      s"""m$i AS MATERIALIZED (
         |  SELECT id, min(concat(
         |      lpad(CAST(999999999999 - cnt AS VARCHAR), 12, '0'), label)) AS key
         |  FROM (SELECT und.v AS id, q.label, count(*) AS cnt
         |        FROM und JOIN l${i - 1} q ON q.id = und.u
         |        GROUP BY 1, 2)
         |  GROUP BY 1),
         |l$i AS MATERIALIZED (
         |  SELECT p.id, coalesce(substr(m.key, 13), p.label) AS label
         |  FROM l${i - 1} p LEFT JOIN m$i m ON m.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT CAST(l_orderkey AS VARCHAR) AS src,
       |         CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
       |und AS MATERIALIZED (
       |  SELECT src AS u, dst AS v FROM e WHERE src <> dst
       |  UNION
       |  SELECT dst, src FROM e WHERE src <> dst),
       |l0 AS MATERIALIZED (
       |  SELECT id, id AS label FROM (SELECT DISTINCT u AS id FROM und)),
       |$steps
       |SELECT id AS paper_id, label AS community
       |FROM l$rounds ORDER BY paper_id""".stripMargin
  }

  /** Deterministic Luby-style maximal independent set (Luby, SIAM J.
    * Comput. 1986) on the deduplicated undirected frame — the primitive
    * behind conflict-free scheduling, graph coloring, and correlation-
    * clustering pivots (every distributed symmetry-breaking algorithm is
    * an MIS in a costume). Per round every still-undecided node draws a
    * PER-ROUND deterministic priority key and joins the set iff its key
    * is strictly smaller than every undecided neighbor's; winners' whole
    * neighborhoods are then decided OUT, and the loop repeats on the
    * shrinking residual graph to convergence-or-throw (the [[components]]
    * contract). Luby draws the priorities uniformly at random each round
    * to get O(log n) rounds w.h.p.; the oracle wants replayability, so
    * the draw is an engine-portable LCG re-seeded by the round index
    * (`(id mod 99991)·40503 + round·7919 mod 99991` — the
    * [[randomWalks]] convention), with the node id appended as the
    * fixed-point tie-break so keys are UNIQUE and "strictly smaller" is
    * well-defined: `lpad(h, 6, '0') || id`, exact string comparison,
    * identical on both engines. Re-seeding per round is what keeps the
    * round count logarithmic — a FIXED priority degrades to the longest
    * priority-decreasing path (measured: round 3 fixpoint at sf0.001
    * AND sf0.01, round 4 at sf0.1, vs cap 12).
    *
    * Output: every node decided exactly once — (paper_id, in_mis,
    * round). Independence (no edge inside the set) and maximality
    * (every OUT node has an IN neighbor) are spec-asserted; the twin
    * unrolls the identical rounds so the gate hashes the full decision
    * table, not just the set.
    *
    * Scale shape per round: one shuffle_hash message join against the
    * pinned alive-edge partitioning + one partial-aggregable `min`, a
    * USING-style left-outer zip of the ≤|alive| key frame, one semi-join
    * fan for the winners' neighborhoods, and two anti-joins that SHRINK
    * the edge frame (the [[kCore]] peel lifecycle: cut + release every
    * round, nothing quadratic, no driver loop over data — the decided
    * cuts are unioned lazily at the end, ≤rounds frames of disjoint
    * nodes). */
  def mis(edges: DataFrame, rounds: Int = 12): DataFrame = {
    val e0 = undirectedByU(edges)
    val alive0 = Blocks.cut(e0.select(col("u").as("id")).distinct(), "id")
    // the LCG priority hashes THROUGH a BIGINT cast; a non-numeric id
    // would cast to NULL and null-poison its key, silently starving the
    // node of wins — fail loudly instead (one aggregate over the alive
    // cut gives this and the loop's starting alive count)
    val a0 = alive0.agg(count(lit(1)), count_if(col("id").cast("long").isNull)).head()
    val nonNumeric = a0.getLong(1)
    require(nonNumeric == 0,
      s"mis requires numeric node ids ($nonNumeric non-numeric); " +
        "the per-round LCG priority casts ids to BIGINT")
    // (alive nodes, alive-only edges, alive count, each round's decided cut)
    val (alive, e, _, decidedCuts) = Fixpoint.converge("mis", rounds,
        (alive0, e0, a0.getLong(0), Vector.empty[DataFrame]))(_._3 == 0) {
      case (r, (alive, e, _, decided)) =>
        val i = r.i
        val keyed = alive.select(col("id"), concat(
          lpad(((pmod(col("id").cast("long"), lit(99991L)) * lit(40503L)
            + lit(i * 7919L)) % lit(99991L)).cast("string"), 6, "0"),
          col("id")).as("k"))
        // min undecided-neighbor key per node: e is maintained alive-only,
        // so the join needs no residual filter
        val minNb = e.join(keyed.hint("shuffle_hash"), e("u") === keyed("id"))
          .groupBy(e("v").as("id")).agg(min(col("k")).as("mk"))
        val winners = keyed.join(minNb, Seq("id"), "left_outer")
          .where(col("mk").isNull || col("k") < col("mk"))
          .select(col("id"))
        // winners' neighborhoods leave the graph on the losing side
        val out = e.join(winners.select(col("id").as("u")), Seq("u"), "left_semi")
          .select(col("v").as("id")).distinct()
        r.observe(winners)
        val cut = r.cut(winners
          .select(col("id"), lit(true).as("in_mis"), lit(i).as("round"))
          .unionAll(out.select(col("id"), lit(false).as("in_mis"),
            lit(i).as("round"))))
        val gone = cut.select(col("id"))
        val (aliveCut, m) = r.cut(alive.join(gone, Seq("id"), "left_anti"), count(lit(1)))
        val eCut = r.cut(e
          .join(gone.select(col("id").as("u")), Seq("u"), "left_anti")
          .join(gone.select(col("id").as("v")), Seq("v"), "left_anti")
          .select(col("u"), col("v")))
        (aliveCut, eCut, m.getLong(0), decided :+ cut)
    }
    graft.Blocks.release(alive)
    graft.Blocks.release(e)
    if (decidedCuts.isEmpty) // empty graph: zero decisions, schema intact
      e0.select(col("u").as("paper_id"), lit(true).as("in_mis"),
        lit(0).as("round")).limit(0)
    else decidedCuts.reduce(_ unionAll _)
      .select(col("id").as("paper_id"), col("in_mis"),
        col("round").cast("int").as("round"))
  }

  /** DuckDB twin of [[mis]]: the bounded elimination UNROLLED one round
    * per MATERIALIZED CTE group ([[kCoreSql]] discipline — a round
    * references its predecessor several times). Extra oracle rounds past
    * Spark's detected convergence are no-ops on the empty residual
    * (empty frames propagate), so the engines agree whenever Spark's
    * loop converges inside the cap — it throws otherwise. */
  def misSql(rounds: Int = 12): String = {
    val steps = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (
         |  SELECT id, concat(lpad(CAST(((CAST(id AS BIGINT) % 99991) * 40503
         |                        + ${i * 7919}) % 99991 AS VARCHAR), 6, '0'),
         |                    id) AS k
         |  FROM a${i - 1}),
         |m$i AS MATERIALIZED (
         |  SELECT e.v AS id, min(k.k) AS mk
         |  FROM e${i - 1} e JOIN k$i k ON k.id = e.u GROUP BY 1),
         |w$i AS MATERIALIZED (
         |  SELECT k.id FROM k$i k LEFT JOIN m$i m ON m.id = k.id
         |  WHERE m.mk IS NULL OR k.k < m.mk),
         |o$i AS MATERIALIZED (
         |  SELECT DISTINCT e.v AS id
         |  FROM e${i - 1} e JOIN w$i w ON w.id = e.u),
         |dec$i AS MATERIALIZED (
         |  SELECT id, true AS in_mis, $i AS round FROM w$i
         |  UNION ALL
         |  SELECT id, false, $i FROM o$i),
         |a$i AS MATERIALIZED (
         |  SELECT a.id FROM a${i - 1} a
         |  LEFT JOIN dec$i d ON d.id = a.id WHERE d.id IS NULL),
         |e$i AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${i - 1} e
         |  JOIN a$i x ON x.id = e.u JOIN a$i y ON y.id = e.v)""".stripMargin
    }.mkString(",\n")
    val decs = (1 to rounds)
      .map(i => s"SELECT * FROM dec$i").mkString("\n  UNION ALL ")
    s"""WITH raw AS (
       |  SELECT CAST(l_orderkey AS VARCHAR) AS src,
       |         CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT src AS u, dst AS v FROM raw WHERE src <> dst
       |  UNION
       |  SELECT dst, src FROM raw WHERE src <> dst),
       |a0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM e0),
       |$steps
       |SELECT id AS paper_id, in_mis, CAST(round AS INT) AS round
       |FROM ($decs)
       |ORDER BY paper_id""".stripMargin
  }

  /** `citation_rich_club` (oracled): the rich-club coefficient curve
    * φ(k) = 2·E_k / (N_k·(N_k−1)) over every distinct degree threshold —
    * do high-degree nodes preferentially cite EACH OTHER (the "rich
    * club" of hub papers), or only spray edges downward? (Colizza et
    * al., Nature Physics 2006.) E_k counts edges whose BOTH endpoints
    * have degree > k, N_k the nodes with degree > k; the whole curve is
    * exact integer arithmetic — the emitted anchor is
    * ⌊10⁶·φ⌋ ppm (DECIMAL(38,0) cross products, the profileKs
    * convention — N_k² passes 2^63 past ~3·10⁹ qualifying nodes) next
    * to the rounded double.
    *
    * Scale shape: one degree aggregate over the deduplicated undirected
    * frame, two shuffle joins zipping degrees onto the edges, then the
    * corpus COLLAPSES to two histograms (≤|distinct degrees| rows — the
    * degree_dist bound, |distinct degrees| ≤ O(√m)) and everything
    * after — the threshold θ-joins included — runs histogram ×
    * histogram, never corpus-sized (the bounded-BNLJ class,
    * PlanAuditSpec-whitelisted with that justification). */
  def richClub(edges: DataFrame): DataFrame = {
    val und = edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // per-edge min endpoint degree, collapsed to a bounded histogram
    val em = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(least(col("da"), col("db")).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("e_at"))
    val nh = deg.groupBy(col("deg")).agg(count(lit(1)).as("n_at"))
    // thresholds: every distinct degree (φ defined just below each)
    val ks = nh.select(col("deg").as("k"))
    val ek = ks.join(em, col("m") > col("k"), "left_outer")
      .groupBy(col("k")).agg(sum(coalesce(col("e_at"), lit(0L))).as("e_k"))
    val nk = ks.join(nh, col("deg") > col("k"), "left_outer")
      .groupBy(col("k")).agg(sum(coalesce(col("n_at"), lit(0L))).as("n_k"))
    ek.join(nk, Seq("k"))
      .select(col("k"), coalesce(col("e_k"), lit(0L)).as("e_k"),
        coalesce(col("n_k"), lit(0L)).as("n_k"))
      .select(col("k"), col("e_k"), col("n_k"),
        when(col("n_k") >= 2, expr(
          "CAST((CAST(e_k AS DECIMAL(38,0)) * 2000000) DIV " +
            "(CAST(n_k AS DECIMAL(38,0)) * (n_k - 1)) AS BIGINT)"))
          .as("phi_ppm"),
        when(col("n_k") >= 2,
          round(col("e_k").cast("double") * 2.0 /
            (col("n_k").cast("double") * (col("n_k").cast("double") - 1.0)),
            6)).as("phi"))
  }

  /** `citation_knn_degree` (oracled): the average-nearest-neighbor-degree
    * curve k_nn(k) — for each degree class k, the mean neighbor degree
    * of its nodes (Pastor-Satorras et al., PRL 2001): rising = hubs
    * attach to hubs (assortative), falling = hubs attach to leaves. The
    * curve-valued refinement of [[citationAssortativity]]'s single r,
    * and the exact-rational trick is that WITHIN a degree class every
    * node has the same degree, so the class mean of per-node MEAN
    * neighbor degrees collapses to Σ S_v / (k·N_k) — one integer
    * numerator over one integer denominator, anchored as ⌊10⁶·k_nn⌋
    * ppm (the [[richClub]] convention, DECIMAL(38,0) products).
    *
    * Scale shape: the degree aggregate, two shuffle zips of degrees
    * onto the edge frame, one per-node sum, then everything collapses
    * to the ≤|distinct degrees| histogram. All equi-joins, nothing
    * quadratic. */
  def knnDegree(edges: DataFrame): DataFrame = {
    val und = edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val sym = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // S_v = sum of neighbor degrees, then collapse to the degree class
    val sv = sym
      .join(deg.select(col("u").as("v"), col("deg").as("dv")), Seq("v"))
      .groupBy(col("u")).agg(sum(col("dv")).as("s"))
    deg.join(sv, Seq("u"))
      .groupBy(col("deg").as("k"))
      .agg(count(lit(1)).as("n_k"), sum(col("s")).as("s_k"))
      .select(col("k"), col("n_k"), col("s_k"),
        expr("CAST((CAST(s_k AS DECIMAL(38,0)) * 1000000) DIV " +
          "(CAST(k AS DECIMAL(38,0)) * n_k) AS BIGINT)").as("knn_ppm"),
        round(col("s_k").cast("double") /
          (col("k").cast("double") * col("n_k").cast("double")), 6)
          .as("knn"))
  }

  /** DuckDB twin of [[knnDegree]]. */
  val knnDegreeSql: String =
    """WITH e AS (
      |  SELECT CAST(l_orderkey AS VARCHAR) AS src,
      |         CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
      |und AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM e WHERE src <> dst),
      |sym AS MATERIALIZED (
      |  SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
      |deg AS MATERIALIZED (SELECT u, count(*) AS deg FROM sym GROUP BY 1),
      |sv AS MATERIALIZED (
      |  SELECT sym.u, sum(d2.deg) AS s
      |  FROM sym JOIN deg d2 ON d2.u = sym.v GROUP BY 1)
      |SELECT deg.deg AS k, count(*) AS n_k,
      |       CAST(sum(sv.s) AS BIGINT) AS s_k,
      |       CAST((CAST(sum(sv.s) AS HUGEINT) * 1000000)
      |            // (CAST(deg.deg AS HUGEINT) * count(*)) AS BIGINT)
      |         AS knn_ppm,
      |       round(CAST(sum(sv.s) AS DOUBLE)
      |             / (CAST(deg.deg AS DOUBLE) * count(*)), 6) AS knn
      |FROM deg JOIN sv USING (u)
      |GROUP BY 1 ORDER BY k""".stripMargin

  /** DuckDB twin of [[richClub]] — same histogram collapse, same
    * threshold θ-joins, same exact ppm floor. */
  val richClubSql: String =
    """WITH e AS (
      |  SELECT CAST(l_orderkey AS VARCHAR) AS src,
      |         CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
      |und AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM e WHERE src <> dst),
      |deg AS MATERIALIZED (
      |  SELECT node, count(*) AS deg
      |  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY 1),
      |em AS MATERIALIZED (
      |  SELECT least(da.deg, db.deg) AS m, count(*) AS e_at
      |  FROM und JOIN deg da ON da.node = und.a
      |           JOIN deg db ON db.node = und.b
      |  GROUP BY 1),
      |nh AS MATERIALIZED (SELECT deg, count(*) AS n_at FROM deg GROUP BY 1),
      |ks AS (SELECT deg AS k FROM nh),
      |ek AS (
      |  SELECT k, CAST(COALESCE(sum(e_at), 0) AS BIGINT) AS e_k
      |  FROM ks LEFT JOIN em ON em.m > ks.k GROUP BY 1),
      |nk AS (
      |  SELECT k, CAST(COALESCE(sum(n_at), 0) AS BIGINT) AS n_k
      |  FROM ks LEFT JOIN nh ON nh.deg > ks.k GROUP BY 1)
      |SELECT k, e_k, n_k,
      |       CASE WHEN n_k >= 2 THEN
      |         CAST((CAST(e_k AS HUGEINT) * 2000000)
      |              // (CAST(n_k AS HUGEINT) * (n_k - 1)) AS BIGINT)
      |       END AS phi_ppm,
      |       CASE WHEN n_k >= 2 THEN
      |         round(CAST(e_k AS DOUBLE) * 2.0
      |               / (CAST(n_k AS DOUBLE) * (CAST(n_k AS DOUBLE) - 1.0)), 6)
      |       END AS phi
      |FROM ek JOIN nk USING (k)
      |ORDER BY k""".stripMargin

  /** Louvain-style community detection, synchronous local-move flavor
    * (LPAm — Barber & Clark 2009): each round every node adopts the
    * candidate community (its neighbors' communities ∪ its own) that
    * maximizes the EXACT-INTEGER modularity-gain score
    *
    *   score(i→c) = W·k_{i,c} − deg(i)·(Σtot(c) − [L(i)=c]·deg(i))
    *
    * over the previous round's labels, where W = Σdeg = 2m on the
    * deduplicated undirected frame, k_{i,c} = i's neighbors labeled c,
    * and Σtot(c) excludes i itself when i already sits in c (the
    * standard Louvain ΔQ comparison with the common 1/W² factor and the
    * constant −W·k_{i,L(i)}… terms cancelled — argmax-equivalent, but
    * integer). Where [[lpa]] maximizes raw neighbor COUNT, this weighs
    * each candidate against the degree mass already absorbed, so hubs
    * stop winning solely by being big — the modularity objective.
    *
    * Determinism inside a round is the [[lpa]] key trick with the score
    * in place of the count: a fixed-width `lpad(10²⁴ − score) || label`
    * sort key, `min` = "highest score, smallest label on ties" (ties
    * INCLUDING the stay-score move sideways deterministically — both
    * engines, same rule). Synchronous sweeps can oscillate (the LPA
    * caveat), so the operator is DEFINED as exactly `rounds` rounds and
    * the twin unrolls the same count. All arithmetic rides
    * DECIMAL(38,0) / HUGEINT: W·k is edge-count × degree scale and wraps
    * 64 bits at corpus sizes where either passes ~10⁹·10⁹ (the
    * assortativity overflow rule); 10²⁴ bounds |score| for any corpus
    * with W·maxdeg below that — far past 100 TB.
    *
    * Scale shape per round: the [[lpa]] message exchange (one
    * shuffle_hash join against the pinned edge partitioning, partial-
    * aggregable (id,c) counts) plus two bounded side frames — Σtot is
    * ≤|communities| rows and deg is the pinned ≤|V| frame — joined on
    * the candidate key; labels cut per round, superseded cuts released. */
  def louvain(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val (labels, und, deg) = louvainCore(edges, rounds)
    graft.Blocks.release(und)
    graft.Blocks.release(deg)
    labels.select(col("id").as("paper_id"), col("label").as("community"))
  }

  /** Shared core: returns (labels, und, deg) with `und`/`deg` still
    * pinned — [[louvain]] releases them; [[louvainStats]] consumes them
    * first. `labels` is an eager localCheckpoint, safe past release. */
  private def louvainCore(edges: DataFrame, rounds: Int)
  : (DataFrame, DataFrame, DataFrame) = {
    val und = undirectedByU(edges)
    val deg = Blocks.cut(und.groupBy(col("u").as("id"))
      .agg(count(lit(1)).as("deg")), "id")
    val wTot = und.count() // = Σdeg = 2m, exact
    val offset = lit(new java.math.BigDecimal("1000000000000000000000000"))
      .cast("decimal(38,0)") // 10^24 > any |score| this side of yottascale
    val dec38 = (c: Column) => c.cast("decimal(38,0)")
    val labels0 = Blocks.cut(deg.select(col("id"), col("id").as("label")), "id")
    val labels = Fixpoint.rounds(rounds, labels0) { (r, labels) =>
      val sigma = labels.join(deg, Seq("id"))
        .groupBy(col("label").as("c")).agg(sum(col("deg")).as("tot"))
      // the lpa exchange: one repartition on the message key feeds the
      // (id, c) partial count; the own-community candidate rides in as a
      // zero-count row so every node scores "stay" even with no same-
      // community neighbor (max(k) keeps the real count when both exist)
      val cand = und.join(labels.hint("shuffle_hash"), und("u") === labels("id"))
        .select(und("v").as("id"), col("label").as("c"), lit(1L).as("k"))
        .unionByName(labels.select(col("id"), col("label").as("c"),
          lit(0L).as("k")))
        .repartition(col("id"))
        .groupBy(col("id"), col("c")).agg(sum(col("k")).as("k"))
      val scored = cand
        .join(labels.select(col("id"), col("label").as("own")), Seq("id"))
        .join(deg, Seq("id"))
        .join(sigma, Seq("c"))
        .withColumn("totx", col("tot") -
          when(col("c") === col("own"), col("deg")).otherwise(lit(0L)))
        .withColumn("score",
          dec38(lit(wTot)) * dec38(col("k")) - dec38(col("deg")) * dec38(col("totx")))
        .withColumn("key",
          concat(lpad((offset - col("score")).cast("string"), 25, "0"), col("c")))
      r.cut(scored.groupBy(col("id")).agg(min(col("key")).as("key"))
        .select(col("id"), expr("substring(key, 26)").as("label")))
    }
    (labels, und, deg)
  }

  /** The louvain labeling as a per-dataset MODEL ARTIFACT — the
    * [[sccLabelsCached]] discipline verbatim: both louvain consumers
    * (the labeling query and the stats rollup) need the identical
    * 4-round sweep, and without the cache the bench pays it twice per
    * suite. Pinned local checkpoint per (session, dataset); reuse is
    * bit-identical by construction (consumers read the same
    * materialized label rows — the production shape is "persist the
    * partition to a table once, every report reads the table"). */
  private val louvainLabelCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def louvainLabelsCached(s: SparkSession, d: String): DataFrame =
    louvainLabelCache.computeIfAbsent(s.sparkContext.applicationId + "|" + d, _ => {
      val labels = louvain(edges(s, d)).localCheckpoint()
      graft.Blocks.pin(labels)
      labels
    })

  /** [[louvainStats]] over a PRE-COMPUTED labeling (paper_id, community)
    * — the label-frame overload [[louvainLabelsCached]] wires through,
    * so the sweep is paid once per dataset, not once per consumer. The
    * undirected frame + degrees rebuild from the edges (one shuffle —
    * cheap against the 4-round sweep they replace). */
  def louvainStatsFrom(edges: DataFrame, labelsIn: DataFrame): DataFrame = {
    val und = undirectedByU(edges)
    val deg = und.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val labels = labelsIn
      .select(col("paper_id").as("id"), col("community").as("label"))
    val out = louvainStatsShape(labels, und, deg).localCheckpoint()
    graft.Blocks.release(und)
    out
  }

  /** MULTI-LEVEL Louvain (r13/r14 verdict directive #4) — the coarsening
    * phase the classic algorithm (Blondel et al. 2008) gains most of its
    * modularity from on large graphs, on top of the one-level local-move
    * sweep ([[louvain]]):
    *
    *   1. level-1 labels from the cached 4-round LPAm sweep;
    *   2. COARSEN: communities become supernodes, parallel edges
    *      collapse to one weighted edge (w = cross-community row count
    *      of the direction-doubled undirected frame — symmetric by
    *      construction), self-loops fold into the supernode's weighted
    *      degree (deg_w(c) = Σ_{i∈c} deg(i), which includes internal
    *      mass automatically);
    *   3. re-run the SAME exact-integer modularity-gain sweep on the
    *      weighted supergraph — identical score algebra with k as
    *      summed edge WEIGHT and deg as weighted degree; W is unchanged
    *      (Σ deg_w = Σ deg = 2m), so the 10²⁴ key bound still holds —
    *      with each round's synchronous candidate ACCEPTED ONLY IF the
    *      partition-level modularity score improves (see below);
    *   4. compose: node → level-1 community → level-2 community.
    *
    * TWO DETERMINISM GUARDS make the synchronous level-2 sweep behave
    * like the classic sequential phase. (a) LABEL DESCENT: a supernode
    * may only move to a community with a smaller label (own label always
    * stays a candidate) — symmetric pairs otherwise SWAP (A→B while
    * B→A, partition unchanged) instead of merging; descent leaves
    * exactly one side of any would-be swap eligible. (b) MONOTONE
    * ACCEPT: synchronous rounds can still collectively overshoot
    * (measured on the 24-cycle fixture). Each round therefore
    * compares the exact-integer partition score
    *   S(L) = W·Σ_{cross rows internal to L} w − Σ_c tot_c²
    * (the Q·W² numerator minus the labeling-INVARIANT self-loop term
    * W·Σ_u sl(u), which cancels in any comparison) and keeps the
    * candidate only when S strictly improves; a rejected round leaves
    * the labels unchanged, and because the sweep is deterministic every
    * later round recomputes the same candidate and rejects it too — the
    * fixpoint. Since coarsening preserves Q exactly (the identity
    * supernode labeling IS the level-1 partition), this guarantees
    * Q(multi-level) ≥ Q(one-level) unconditionally — the invariant
    * AnalyticsExtraSpec recomputes from scratch. S rides DECIMAL(38,0)/
    * HUGEINT (W·w and tot² both pass 64 bits near 10¹⁰ edges) and each
    * probe is two supergraph-bounded aggregates — the graph family's
    * scalar fixpoint-probe class, ~free at any corpus size.
    *
    * The supergraph is bounded by |communities| nodes and min(|und|,
    * |communities|²) weighted edges — after one level of a real corpus
    * this is orders of magnitude below |V|, so the level-2 sweep is
    * nearly free at 100 TB scale (the whole point of coarsening). Both
    * levels are DEFINED-ROUNDS (4 + 4) like [[lpa]]/[[louvain]], and the
    * DuckDB twin unrolls the identical schedule INCLUDING the accept
    * rule (per-round scalar score CTEs gating a conditional union), so
    * the gate hashes every move AND every accept decision. */
  def louvainMlFrom(edges: DataFrame, labelsIn: DataFrame,
                    rounds2: Int = 4): DataFrame = {
    val und = undirectedByU(edges)
    val deg = Blocks.cut(und.groupBy(col("u").as("id"))
      .agg(count(lit(1)).as("deg")), "id")
    val wTot = und.count() // Σ deg = 2m — invariant under coarsening
    val labels = labelsIn
      .select(col("paper_id").as("id"), col("community").as("label"))
      .localCheckpoint()
    // coarsen: weighted cross-community edges (direction-doubled, like
    // und) + weighted supernode degrees. Both frames are detached with
    // their own checkpoint + re-alias (the DetectAmbiguousSelfJoin
    // discipline — randomWalks, PLANS.md r13).
    val lu = labels.select(col("id").as("uid"), col("label").as("cu"))
    val lv = labels.select(col("id").as("vid"), col("label").as("cv"))
    // the weight aggregate is the cut's shape step, inside its exchange
    val cross = und
      .join(lu.hint("shuffle_hash"), und("u") === col("uid"))
      .join(lv.hint("shuffle_hash"), und("v") === col("vid"))
      .where(col("cu") =!= col("cv"))
      .select(col("cu").as("u"), col("cv").as("v"))
    val cw = Blocks.cut(cross, Seq("u"))(
      _.groupBy(col("u"), col("v")).agg(count(lit(1)).as("w")))
    val degW = Blocks.cut(labels.join(deg, Seq("id"))
      .groupBy(col("label").as("id")).agg(sum(col("deg")).as("deg")), "id")
    graft.Blocks.release(und)
    graft.Blocks.release(deg)
    val offset = lit(new java.math.BigDecimal("1000000000000000000000000"))
      .cast("decimal(38,0)")
    val dec38 = (c: Column) => c.cast("decimal(38,0)")
    // partition score S(L) = W·(internal cross-edge weight) − Σ_c tot_c²
    // — the Q·W² numerator minus its labeling-invariant self-loop term.
    // Two supergraph-bounded scalar aggregates; exact BigInt on the
    // driver (the fixpoint-probe class).
    def scoreOf(l: DataFrame): BigInt = {
      val la = l.select(col("id").as("iu"), col("label").as("lcu"))
      val lb = l.select(col("id").as("iv"), col("label").as("lcv"))
      val internal = cw
        .join(la.hint("shuffle_hash"), cw("u") === col("iu"))
        .join(lb.hint("shuffle_hash"), cw("v") === col("iv"))
        .where(col("lcu") === col("lcv"))
        .agg(coalesce(sum(col("w")), lit(0L)))
        .collect()(0).getLong(0)
      val totSq = l.join(degW, Seq("id"))
        .groupBy(col("label")).agg(sum(col("deg")).as("tot"))
        .agg(sum(dec38(col("tot")) * dec38(col("tot"))))
        .collect()(0).getDecimal(0)
      BigInt(wTot) * BigInt(internal) - BigInt(totSq.toBigInteger)
    }
    val l20 = Blocks.cut(degW.select(col("id"), col("id").as("label")), "id")
    // (accepted labels, their score, stalled)
    val (l2, _, _) = Fixpoint.rounds(rounds2, (l20, scoreOf(l20), false),
        until = (s: (DataFrame, BigInt, Boolean)) => s._3) { case (r, (l2, curScore, _)) =>
      val sigma = l2.join(degW, Seq("id"))
        .groupBy(col("label").as("c")).agg(sum(col("deg")).as("tot"))
      val cand = cw.join(l2.hint("shuffle_hash"), cw("u") === l2("id"))
        .select(cw("v").as("id"), col("label").as("c"), col("w").as("k"))
        .unionByName(l2.select(col("id"), col("label").as("c"),
          lit(0L).as("k")))
        .repartition(col("id"))
        .groupBy(col("id"), col("c")).agg(sum(col("k")).as("k"))
      val scored = cand
        .join(l2.select(col("id"), col("label").as("own")), Seq("id"))
        // LABEL DESCENT: a supernode may only move to a SMALLER label
        // (own always stays a candidate). Synchronous sweeps swap
        // symmetric pairs (A→B while B→A — the partition doesn't change
        // and the accept rule rejects forever); descent makes exactly
        // one side of any would-be swap eligible, so pairs MERGE. The
        // distributed-Louvain standard (e.g. Sotera's Spark impl uses
        // the same class of deterministic tie-break); both engines
        // compare the same VARCHAR order.
        .where(col("c") <= col("own"))
        .join(degW, Seq("id"))
        // sigma has at most one row per row of l2, so l2's block bytes
        // bound it. Left to AQE, the small side was broadcast at run time
        // either before or after the other side's exchange on `c` had
        // started, and the round ran 4 or 6 stages by that race
        .join(probeSide(sigma, graft.Blocks.blockBytes(l2).getOrElse(Long.MaxValue)), Seq("c"))
        .withColumn("totx", col("tot") -
          when(col("c") === col("own"), col("deg")).otherwise(lit(0L)))
        .withColumn("score",
          dec38(lit(wTot)) * dec38(col("k")) - dec38(col("deg")) * dec38(col("totx")))
        .withColumn("key",
          concat(lpad((offset - col("score")).cast("string"), 25, "0"), col("c")))
      val cut = r.cut(scored.groupBy(col("id")).agg(min(col("key")).as("key"))
        .select(col("id"), expr("substring(key, 26)").as("label")))
      val candScore = scoreOf(cut)
      // a rejected candidate stalls the deterministic sweep: every later
      // round would recompute and reject it too (the twin's remaining
      // unrolled rounds are no-ops by the same rule)
      if (candScore > curScore) (cut, candScore, false)
      else (l2, curScore, true)
    }
    val out = labels
      .join(l2.select(col("id").as("l1"), col("label").as("community")),
        labels("label") === col("l1"))
      .select(labels("id").as("paper_id"), col("community"))
      .localCheckpoint()
    graft.Blocks.release(cw)
    graft.Blocks.release(degW)
    graft.Blocks.release(l2)
    graft.Blocks.release(labels)
    out
  }

  /** Standalone multi-level run (fixture/spec path — the query map goes
    * through [[louvainLabelsCached]] so level 1 is paid once per suite). */
  def louvainMl(edges: DataFrame, rounds: Int = 4, rounds2: Int = 4): DataFrame = {
    val l1 = louvain(edges, rounds)
    louvainMlFrom(edges, l1, rounds2)
  }

  /** DuckDB twin of [[louvainMl]]: the level-1 CTE body verbatim, then
    * the coarsened weighted sweep unrolled with the identical HUGEINT
    * score algebra and 25-wide min-key. */
  def louvainMlSql(rounds: Int = 4, rounds2: Int = 4): String = {
    val off = "CAST('1000000000000000000000000' AS HUGEINT)"
    // S(lab) = W·internal − Σ tot² as a 1-row scalar CTE (the accept rule)
    def scoreCte(name: String, lab: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT (SELECT wt FROM w) *
         |         COALESCE((SELECT sum(cw.wt) FROM cw
         |                   JOIN $lab a ON a.id = cw.u
         |                   JOIN $lab b ON b.id = cw.v
         |                              AND b.label = a.label),
         |                  CAST(0 AS HUGEINT))
         |       - (SELECT sum(t.tot * t.tot) FROM (
         |            SELECT CAST(sum(d.deg) AS HUGEINT) AS tot
         |            FROM $lab l JOIN degw d ON d.id = l.id
         |            GROUP BY l.label) t) AS s)""".stripMargin
    val steps = (1 to rounds2).map { i =>
      s"""gsig$i AS MATERIALIZED (
         |  SELECT l.label AS c, sum(d.deg) AS tot
         |  FROM g${i - 1} l JOIN degw d ON d.id = l.id GROUP BY 1),
         |gcand$i AS MATERIALIZED (
         |  SELECT id, c, sum(k) AS k FROM (
         |    SELECT cw.v AS id, q.label AS c, cw.wt AS k
         |    FROM cw JOIN g${i - 1} q ON q.id = cw.u
         |    UNION ALL
         |    SELECT id, label AS c, CAST(0 AS HUGEINT) AS k FROM g${i - 1})
         |  GROUP BY 1, 2),
         |gm$i AS MATERIALIZED (
         |  SELECT x.id, min(concat(lpad(CAST($off -
         |      (w.wt * x.k - d.deg *
         |       (s.tot - CASE WHEN x.c = p.label
         |                     THEN d.deg ELSE CAST(0 AS HUGEINT) END))
         |    AS VARCHAR), 25, '0'), x.c)) AS key
         |  FROM gcand$i x
         |  CROSS JOIN w
         |  JOIN g${i - 1} p ON p.id = x.id
         |  JOIN degw d ON d.id = x.id
         |  JOIN gsig$i s ON s.c = x.c
         |  WHERE x.c <= p.label
         |  GROUP BY 1),
         |h$i AS MATERIALIZED (
         |  SELECT m.id, substr(m.key, 26) AS label FROM gm$i m),
         |${scoreCte(s"snew$i", s"h$i")},
         |${scoreCte(s"sold$i", s"g${i - 1}")},
         |g$i AS MATERIALIZED (
         |  SELECT h.id, h.label FROM h$i h
         |  WHERE (SELECT s FROM snew$i) > (SELECT s FROM sold$i)
         |  UNION ALL
         |  SELECT p.id, p.label FROM g${i - 1} p
         |  WHERE NOT ((SELECT s FROM snew$i) > (SELECT s FROM sold$i)))"""
        .stripMargin
    }.mkString(",\n")
    s"""${louvainCtes(rounds)},
       |cw AS MATERIALIZED (
       |  SELECT a.label AS u, b.label AS v, CAST(count(*) AS HUGEINT) AS wt
       |  FROM und JOIN l$rounds a ON a.id = und.u
       |           JOIN l$rounds b ON b.id = und.v
       |  WHERE a.label <> b.label
       |  GROUP BY 1, 2),
       |degw AS MATERIALIZED (
       |  SELECT l.label AS id, CAST(sum(d.deg) AS HUGEINT) AS deg
       |  FROM l$rounds l JOIN deg d ON d.id = l.id GROUP BY 1),
       |g0 AS MATERIALIZED (SELECT id, id AS label FROM degw),
       |$steps
       |SELECT l.id AS paper_id, g.label AS community
       |FROM l$rounds l JOIN g$rounds2 g ON g.id = l.label
       |ORDER BY paper_id""".stripMargin
  }

  /** Per-community rollup of the [[louvain]] partition — the frame a
    * modularity report reads off directly: Q = Σ_c (W·in·2 − tot²)/W²
    * with every term here as exact BIGINT columns (in_edges counts
    * UNDIRECTED inside edges, i.e. the both-direction count div 2).
    * Bounded output (≤|communities| rows); the stats frame is
    * checkpointed before the pinned inputs release. */
  def louvainStats(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val (labels, und, deg) = louvainCore(edges, rounds)
    val out = louvainStatsShape(labels, und, deg).localCheckpoint()
    graft.Blocks.release(und)
    graft.Blocks.release(deg)
    graft.Blocks.release(labels)
    out
  }

  /** Shared rollup body: labels (id, label) + pinned und/deg → the
    * (community, n_nodes, in_edges, tot_deg) frame. */
  private def louvainStatsShape(labels: DataFrame, und: DataFrame,
                                deg: DataFrame): DataFrame = {
    val base = labels.join(deg, Seq("id"))
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("tot_deg"))
    val lu = labels.select(col("id").as("uid"), col("label").as("cu"))
    val lv = labels.select(col("id").as("vid"), col("label").as("cv"))
    val inn = und
      .join(lu.hint("shuffle_hash"), und("u") === col("uid"))
      .join(lv.hint("shuffle_hash"), und("v") === col("vid"))
      .where(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("c2"))
      .select(col("community"), expr("c2 div 2").as("in_edges"))
    base.join(inn, Seq("community"), "left_outer")
      .select(col("community"), col("n_nodes"),
        coalesce(col("in_edges"), lit(0L)).as("in_edges"), col("tot_deg"))
  }

  /** Shared unrolled-CTE body for the louvain twins ([[lpaSql]]
    * discipline, HUGEINT arithmetic, same 25-wide key). */
  private def louvainCtes(rounds: Int): String = {
    val off = "CAST('1000000000000000000000000' AS HUGEINT)"
    val steps = (1 to rounds).map { i =>
      s"""sig$i AS MATERIALIZED (
         |  SELECT l.label AS c, CAST(sum(d.deg) AS HUGEINT) AS tot
         |  FROM l${i - 1} l JOIN deg d ON d.id = l.id GROUP BY 1),
         |cand$i AS MATERIALIZED (
         |  SELECT id, c, CAST(sum(k) AS HUGEINT) AS k FROM (
         |    SELECT und.v AS id, q.label AS c, 1 AS k
         |    FROM und JOIN l${i - 1} q ON q.id = und.u
         |    UNION ALL
         |    SELECT id, label AS c, 0 AS k FROM l${i - 1})
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (
         |  SELECT x.id, min(concat(lpad(CAST($off -
         |      (w.wt * x.k - CAST(d.deg AS HUGEINT) *
         |       (s.tot - CASE WHEN x.c = p.label
         |                     THEN CAST(d.deg AS HUGEINT)
         |                     ELSE CAST(0 AS HUGEINT) END))
         |    AS VARCHAR), 25, '0'), x.c)) AS key
         |  FROM cand$i x
         |  CROSS JOIN w
         |  JOIN l${i - 1} p ON p.id = x.id
         |  JOIN deg d ON d.id = x.id
         |  JOIN sig$i s ON s.c = x.c
         |  GROUP BY 1),
         |l$i AS MATERIALIZED (
         |  SELECT m.id, substr(m.key, 26) AS label FROM m$i m)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT CAST(l_orderkey AS VARCHAR) AS src,
       |         CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
       |und AS MATERIALIZED (
       |  SELECT src AS u, dst AS v FROM e WHERE src <> dst
       |  UNION
       |  SELECT dst, src FROM e WHERE src <> dst),
       |deg AS MATERIALIZED (
       |  SELECT u AS id, count(*) AS deg FROM und GROUP BY 1),
       |w AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS wt FROM und),
       |l0 AS MATERIALIZED (SELECT id, id AS label FROM deg),
       |$steps""".stripMargin
  }

  /** DuckDB twin of [[louvain]]. */
  def louvainSql(rounds: Int = 4): String =
    s"""${louvainCtes(rounds)}
       |SELECT id AS paper_id, label AS community
       |FROM l$rounds ORDER BY paper_id""".stripMargin

  /** DeepWalk-style random-walk corpus generation (Perozzi et al. 2014):
    * `walks` walks of up to `steps` hops from EVERY node, following
    * out-edges — the graph → token-sequence bridge (the walk corpus is
    * what a skip-gram embedding trains on; this operator materializes
    * it as one path string per walk). The stepping is DETERMINISTIC and
    * engine-portable instead of PRNG-seeded: neighbor choice at (cur,
    * walk w, step t) is `(w·1000003 + t·7919 + cur·31) mod outdeg(cur)`
    * into the dst-sorted neighbor ranking — an LCG-style mix over exact
    * integers, so the DuckDB twin reproduces every walk bit-for-bit
    * (production DeepWalk wants real randomness; the oracle wants
    * replayability — the SHAPE is the deliverable). Walks end early at
    * sink nodes (no out-edges): the join is inner, so a dangling `cur`
    * simply emits no further hops and `n_steps` records the truncation.
    *
    * Scale shape per hop: state is ≤ |V|·walks rows (never edge-sized);
    * the neighbor pick is TWO equi-joins — (cur = src) against the
    * node-sized outdeg frame to compute the wanted rank, then
    * (cur, rank) = (src, want) against the pinned ranked-neighbor frame
    * — NO per-neighbor fan-out (a rank-as-filter formulation would
    * materialize outdeg(cur) rows per walk at every hub, the difference
    * between O(walk·deg) and O(walk) per step). The ranking itself is
    * one window pass over the deduped edges, paid once. */
  def randomWalks(edges: DataFrame, walks: Int = 2, steps: Int = 4): DataFrame = {
    // the dedup and the window are the cut's shape step: both run inside
    // its one exchange on src
    val nb = Blocks.cut(edges.where(col("src") =!= col("dst")), Seq("src"))(
      _.distinct().select(col("src"), col("dst"),
        row_number().over(Window.partitionBy(col("src")).orderBy(col("dst")))
          .cast("long").as("rank"),
        count(lit(1)).over(Window.partitionBy(col("src"))).as("outdeg")))
    // detached cut: degs shares no lineage (or exprIds) with nb, so the
    // per-step double-reference (degs for the rank pick, nb for the hop)
    // never trips the self-join ambiguity check
    val degs = nb.select(col("src").as("dsrc"), col("outdeg").as("ddeg"))
      .distinct().localCheckpoint()
    val state0 = nodeIds(nb).select(col("id").as("start"),
        explode(expr(s"sequence(0, ${walks - 1})")).as("wid"))
      .withColumn("cur", col("start"))
      .localCheckpoint()
    // every step's walker frame stays in the state: the paths union them all
    val states = Fixpoint.rounds(steps, Vector(state0)) { (r, states) =>
      val state = states.last
      val want = (pmod(col("wid").cast("long") * lit(1000003L)
        + lit(r.i.toLong * 7919L)
        + col("cur").cast("long") * lit(31L), col("ddeg")) + 1L).as("want")
      val withIdx = state.join(degs, state("cur") === degs("dsrc"))
        .select(col("start"), col("wid"), col("cur"), want)
      states :+ r.cut(withIdx
        .join(nb.hint("shuffle_hash"),
          withIdx("cur") === nb("src") && withIdx("want") === nb("rank"))
        .select(col("start"), col("wid"), nb("dst").as("cur")))
    }
    val out = walkPaths(states)
    states.foreach(graft.Blocks.release)
    graft.Blocks.release(nb)
    graft.Blocks.release(degs)
    out
  }

  /** One path string per (start, walk) over the walker frames of steps
    * 0, 1, …, checkpointed so the caller can release the frames. */
  private def walkPaths(states: Seq[DataFrame]): DataFrame =
    states.zipWithIndex
      .map { case (s, t) =>
        s.select(col("start"), col("wid"), lit(t).as("step"), col("cur").as("node")) }
      .reduce(_ unionByName _)
      .groupBy(col("start"), col("wid"))
      .agg(max(col("step")).as("n_steps"),
        array_join(expr("transform(sort_array(collect_list(struct(step, node)))," +
          " x -> x.node)"), "->").as("path"))
      .select(col("start").as("paper_id"), col("wid").as("walk_id"),
        col("n_steps"), col("path"))
      .localCheckpoint()

  /** DuckDB twin of [[randomWalks]] — unrolled hops, same integer mix. */
  def randomWalksSql(walks: Int = 2, steps: Int = 4): String = {
    val hops = (1 to steps).map { t =>
      s"""s$t AS MATERIALIZED (
         |  SELECT p.start, p.wid, nb.dst AS cur
         |  FROM s${t - 1} p JOIN nb ON nb.src = p.cur
         |   AND nb.rank = ((p.wid * 1000003 + $t * 7919
         |                   + CAST(p.cur AS BIGINT) * 31) % nb.outdeg
         |                  + nb.outdeg) % nb.outdeg + 1),
         |v$t AS (SELECT start, wid, $t AS step, cur AS node FROM s$t)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to steps).map(t => s"SELECT * FROM v$t")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS src,
       |         CAST(l_partkey AS VARCHAR) AS dst
       |  FROM lineitem
       |  WHERE CAST(l_orderkey AS VARCHAR) <> CAST(l_partkey AS VARCHAR)),
       |nb AS MATERIALIZED (
       |  SELECT src, dst,
       |         row_number() OVER (PARTITION BY src ORDER BY dst) AS rank,
       |         count(*) OVER (PARTITION BY src) AS outdeg
       |  FROM e),
       |nodes AS MATERIALIZED (
       |  SELECT src AS id FROM e UNION SELECT dst FROM e),
       |s0 AS MATERIALIZED (
       |  SELECT id AS start, w.wid, id AS cur
       |  FROM nodes CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${walks - 1})) AS wid) w),
       |v0 AS (SELECT start, wid, 0 AS step, cur AS node FROM s0),
       |$hops
       |SELECT start AS paper_id, CAST(wid AS INT) AS walk_id,
       |       CAST(max(step) AS INT) AS n_steps,
       |       string_agg(node, '->' ORDER BY step) AS path
       |FROM ($unions)
       |GROUP BY 1, 2 ORDER BY paper_id, walk_id""".stripMargin
  }

  /** `citation_node2vec` (oracled): SECOND-ORDER biased walks — the
    * node2vec sampler (Grover & Leskovec 2016) beside [[randomWalks]]'s
    * first-order DeepWalk corpus. Standing at `cur` having arrived from
    * `prev`, each out-neighbor x is weighted by the search bias
    * α(prev, x): 1/p for the return step (x = prev), 1 when x is also an
    * out-neighbor of prev (BFS-ish), 1/q otherwise (DFS-ish). p = 2,
    * q = 1/2 here, scaled by 2pq into the EXACT-INTEGER weights
    * {return 1, triangle 2, outward 4} — the repo's no-float fixpoint
    * discipline applied to a sampler. Step 1 has no prev and is the
    * uniform [[randomWalks]] rule.
    *
    * Deterministic choice under weights: candidates sort by dst, the
    * walker draws r = mix(wid, t, cur) mod Σw (the [[randomWalks]] LCG
    * mix), and the unique candidate whose cumulative-weight interval
    * [cum − w, cum) contains r is taken. Both engines compute the same
    * integer cumsums over the same ordering, so every hop DECISION
    * hash-oracles — the twin unrolls the hops with identical window
    * arithmetic.
    *
    * Scale shape per step: one shuffle_hash join of the walker frontier
    * against the pinned neighbor table (the [[randomWalks]] exchange),
    * one composite-key probe against the detached adjacency frame for
    * the triangle test (equi-join, never a cartesian), and a per-walker
    * window whose partition is that walker's candidate list (≤ outdeg —
    * walkers spread uniformly, so no window skew). No alias tables, no
    * per-edge-pair precompute: the O(Σ_{(u,v)} deg(u)·deg(v)) transition
    * matrix production node2vec implementations struggle to materialize
    * is never built — the bias resolves per step from the adjacency
    * probe. Sinks truncate walks exactly as [[randomWalks]]. */
  def node2vecWalks(edges: DataFrame, walks: Int = 2, steps: Int = 4): DataFrame = {
    val nb = directedBySrc(edges)
    // detached re-aliased cut for the triangle probe (the randomWalks
    // degs discipline — no shared exprIds with nb)
    val adj = Blocks.cut(nb.select(col("src").as("asrc"), col("dst").as("adst")), "asrc")
    val degs = Blocks.cut(nb.groupBy(col("src").as("dsrc"))
      .agg(count(lit(1)).as("ddeg")), "dsrc")
    val ranked = Blocks.cut(nb.select(col("src"), col("dst"),
        row_number().over(Window.partitionBy(col("src")).orderBy(col("dst")))
          .cast("long").as("rank")), "src")
    // step 1: uniform (no prev) — the randomWalks rule
    val state0 = nodeIds(nb).select(col("id").as("start"),
        explode(expr(s"sequence(0, ${walks - 1})")).as("wid"))
      .withColumn("cur", col("start"))
      .localCheckpoint()
    val want1 = (pmod(col("wid").cast("long") * lit(1000003L) + lit(7919L)
      + col("cur").cast("long") * lit(31L), col("ddeg")) + 1L).as("want")
    val s1 = state0.join(degs, state0("cur") === degs("dsrc"))
      .select(col("start"), col("wid"), col("cur"), want1)
    val state1 = s1.join(ranked.hint("shuffle_hash"),
        s1("cur") === ranked("src") && s1("want") === ranked("rank"))
      .select(col("start"), col("wid"), s1("cur").as("prev"),
        ranked("dst").as("cur"))
      .localCheckpoint()
    // rounds are steps 2..steps; every walker frame stays in the state
    val states = Fixpoint.rounds(steps - 1, Vector(state0, state1)) { (r, states) =>
      val t = r.i + 1
      val state = states.last
      val cands = state.join(nb.hint("shuffle_hash"), state("cur") === nb("src"))
        .select(col("start"), col("wid"), col("prev"), col("cur"),
          nb("dst").as("nxt"))
        .join(adj, col("prev") === col("asrc") && col("nxt") === col("adst"),
          "left_outer")
        .select(col("start"), col("wid"), col("prev"), col("cur"), col("nxt"),
          when(col("nxt") === col("prev"), lit(1L))
            .when(col("adst").isNotNull, lit(2L))
            .otherwise(lit(4L)).as("wt"))
      val wWalk = Window.partitionBy(col("start"), col("wid"))
      val cum = cands
        .withColumn("cum", sum(col("wt")).over(wWalk.orderBy(col("nxt"))))
        .withColumn("tot", sum(col("wt")).over(wWalk))
        .withColumn("r", pmod(col("wid").cast("long") * lit(1000003L)
          + lit(t.toLong * 7919L) + col("cur").cast("long") * lit(31L),
          col("tot")))
      states :+ r.cut(cum
        .where(col("r") >= col("cum") - col("wt") && col("r") < col("cum"))
        .select(col("start"), col("wid"), col("cur").as("prev"),
          col("nxt").as("cur")))
    }
    val out = walkPaths(states)
    states.foreach(graft.Blocks.release)
    Seq(nb, adj, degs, ranked).foreach(graft.Blocks.release)
    out
  }

  /** DuckDB twin of [[node2vecWalks]] — unrolled hops, identical integer
    * bias weights, cumsum windows and LCG draw. */
  def node2vecWalksSql(walks: Int = 2, steps: Int = 4): String = {
    val hops = (2 to steps).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT s.start, s.wid, s.prev, s.cur, nb.dst AS nxt,
         |         CASE WHEN nb.dst = s.prev THEN 1
         |              WHEN a.asrc IS NOT NULL THEN 2
         |              ELSE 4 END AS wt
         |  FROM s${t - 1} s JOIN nb ON nb.src = s.cur
         |  LEFT JOIN adj a ON a.asrc = s.prev AND a.adst = nb.dst),
         |w$t AS MATERIALIZED (
         |  SELECT start, wid, prev, cur, nxt, wt,
         |         sum(wt) OVER (PARTITION BY start, wid ORDER BY nxt) AS cum,
         |         sum(wt) OVER (PARTITION BY start, wid) AS tot
         |  FROM c$t),
         |s$t AS MATERIALIZED (
         |  SELECT start, wid, cur AS prev, nxt AS cur FROM w$t
         |  WHERE ((wid * 1000003 + $t * 7919 + CAST(cur AS BIGINT) * 31)
         |         % tot + tot) % tot
         |        BETWEEN cum - wt AND cum - 1),
         |v$t AS (SELECT start, wid, $t AS step, cur AS node FROM s$t)"""
        .stripMargin
    }.mkString(",\n")
    val unions = (0 to steps).map(t => s"SELECT * FROM v$t")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS src,
       |         CAST(l_partkey AS VARCHAR) AS dst
       |  FROM lineitem
       |  WHERE CAST(l_orderkey AS VARCHAR) <> CAST(l_partkey AS VARCHAR)),
       |nb AS MATERIALIZED (SELECT src, dst FROM e),
       |adj AS MATERIALIZED (SELECT src AS asrc, dst AS adst FROM e),
       |ranked AS MATERIALIZED (
       |  SELECT src, dst,
       |         row_number() OVER (PARTITION BY src ORDER BY dst) AS rank,
       |         count(*) OVER (PARTITION BY src) AS outdeg
       |  FROM e),
       |nodes AS MATERIALIZED (
       |  SELECT src AS id FROM e UNION SELECT dst FROM e),
       |s0 AS MATERIALIZED (
       |  SELECT id AS start, w.wid, id AS cur
       |  FROM nodes CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${walks - 1})) AS wid) w),
       |v0 AS (SELECT start, wid, 0 AS step, cur AS node FROM s0),
       |s1 AS MATERIALIZED (
       |  SELECT p.start, p.wid, p.cur AS prev, r.dst AS cur
       |  FROM s0 p JOIN ranked r ON r.src = p.cur
       |   AND r.rank = ((p.wid * 1000003 + 7919
       |                  + CAST(p.cur AS BIGINT) * 31) % r.outdeg
       |                 + r.outdeg) % r.outdeg + 1),
       |v1 AS (SELECT start, wid, 1 AS step, cur AS node FROM s1),
       |$hops
       |SELECT start AS paper_id, CAST(wid AS INT) AS walk_id,
       |       CAST(max(step) AS INT) AS n_steps,
       |       string_agg(node, '->' ORDER BY step) AS path
       |FROM ($unions)
       |GROUP BY 1, 2 ORDER BY paper_id, walk_id""".stripMargin
  }

  /** DuckDB twin of [[louvainStats]]. */
  def louvainStatsSql(rounds: Int = 4): String =
    s"""${louvainCtes(rounds)},
       |base AS MATERIALIZED (
       |  SELECT l.label AS community, count(*) AS n_nodes,
       |         sum(d.deg) AS tot_deg
       |  FROM l$rounds l JOIN deg d ON d.id = l.id GROUP BY 1),
       |inn AS MATERIALIZED (
       |  SELECT a.label AS community, count(*) // 2 AS in_edges
       |  FROM und JOIN l$rounds a ON a.id = und.u
       |           JOIN l$rounds b ON b.id = und.v
       |  WHERE a.label = b.label GROUP BY 1)
       |SELECT base.community, CAST(base.n_nodes AS BIGINT) AS n_nodes,
       |       CAST(COALESCE(inn.in_edges, 0) AS BIGINT) AS in_edges,
       |       CAST(base.tot_deg AS BIGINT) AS tot_deg
       |FROM base LEFT JOIN inn ON inn.community = base.community
       |ORDER BY base.community""".stripMargin

  /** Incremental view maintenance of the citation-count view: the
    * in-degree aggregate maintained as BASE ⊎ DELTA instead of a full
    * recompute — the lakehouse pattern where yesterday's materialized
    * counts absorb today's ingested edges. The split is deterministic
    * (md5 of the edge < 'e' ⇒ base, ~87.5%); each side aggregates
    * independently and the MERGE is itself a partial-aggregable sum —
    * count is a commutative monoid, which is exactly the property IVM
    * needs (and why the same shape serves streaming upserts and the
    * soak's incremental dedup index). At 100 TB the base aggregate is a
    * stored table and only the delta scans; here both derive from the
    * corpus, but the merge operator is the real thing.
    *
    * THE ORACLE IS THE FULL RECOMPUTE — [[counts]]' own SQL — so the
    * hash gate proves the IVM identity merge(agg(base), agg(delta)) =
    * agg(all), not merely that two engines agree on the same plan. */
  def countsIvm(edges: DataFrame): DataFrame = {
    val tagged = edges.withColumn("h",
      substring(md5(concat(col("src"), lit("#"), col("dst"))), 1, 1))
    val baseCounts = counts(tagged.where(col("h") < "e").select("src", "dst"))
    val deltaCounts = counts(tagged.where(col("h") >= "e").select("src", "dst"))
    baseCounts.unionByName(deltaCounts)
      .groupBy(col("paper_id"))
      .agg(sum(col("citations")).as("citations"))
  }

  val countsIvmSql: String =
    """SELECT CAST(l_partkey AS VARCHAR) AS paper_id, COUNT(*) AS citations
      |FROM lineitem GROUP BY 1 ORDER BY paper_id""".stripMargin

  /** BFS with path counting from the most-cited paper: dist = hop of
    * first reach, sigma = the NUMBER of shortest paths — the forward half
    * of Brandes' betweenness algorithm, and the layered-frontier shape
    * ([[citationReach]] finds the hop; this also counts). Per hop: one
    * join frontier⋈edges + one sum aggregate (σ(v) = Σ σ(u) over
    * frontier predecessors) + one anti-join against the reached set —
    * fan-out is frontier out-degree, never the graph. Path counts grow
    * multiplicatively with depth, so σ accumulates in DECIMAL(38,0)
    * (the [[citationAssortativity]] overflow rule — BIGINT wraps
    * silently where DuckDB widens). Edges DEDUPED first: on a multigraph
    * parallel edges would multiply σ, and the twin's DISTINCT must see
    * the same multiplicity. Depth capped at 4 (the reach convention);
    * everything is exact integer arithmetic, so the query hash-oracles
    * with the identically-unrolled twin. */
  def bfsPaths(edges: DataFrame, hops: Int = 4): DataFrame = {
    val e = directedBySrc(edges)
    val out = bfsPathsFrom(e, hops)
    graft.Blocks.release(e)
    out
  }

  /** The forward (σ-counting) CTE chain, shared by [[bfsPathsSql]] and
    * [[betweennessSql]]. */
  private def bfsForwardCtes(hops: Int): String = {
    val steps = (1 to hops).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT id, $i AS dist, sigma FROM (
         |    SELECT e.dst AS id,
         |           CAST(sum(f.sigma) AS DECIMAL(38,0)) AS sigma
         |    FROM f${i - 1} f JOIN e ON e.src = f.id
         |    GROUP BY 1) n
         |  WHERE NOT EXISTS (SELECT 1 FROM r${i - 1} r WHERE r.id = n.id)),
         |r$i AS MATERIALIZED (
         |  SELECT * FROM r${i - 1} UNION ALL SELECT * FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS src,
       |         CAST(l_partkey AS VARCHAR) AS dst
       |  FROM lineitem WHERE l_orderkey <> l_partkey),
       |f0 AS MATERIALIZED (
       |  SELECT dst AS id, 0 AS dist, CAST(1 AS DECIMAL(38,0)) AS sigma
       |  FROM e GROUP BY dst ORDER BY count(*) DESC, dst ASC LIMIT 1),
       |r0 AS MATERIALIZED (SELECT * FROM f0),
       |$steps""".stripMargin
  }

  /** DuckDB twin of [[bfsPaths]], hops unrolled as MATERIALIZED CTEs. */
  def bfsPathsSql(hops: Int = 4): String =
    s"""${bfsForwardCtes(hops)}
       |SELECT id AS paper_id, dist, CAST(sigma AS BIGINT) AS sigma
       |FROM r$hops ORDER BY paper_id""".stripMargin

  /** Brandes dependency accumulation — the BACKWARD half completing
    * [[bfsPaths]]: walking the shortest-path DAG from the deepest level
    * up, δ(v) = Σ_{w ∈ succ(v)} (σ(v)/σ(w)) · (1 + δ(w)). Summed over
    * all sources this is exactly betweenness centrality; this operator
    * computes the single-source dependency profile from the same
    * most-cited seed (a sampled-sources betweenness runs S of these and
    * adds — Brandes 2001 §4, Bader's sampling — so the per-source
    * operator IS the building block at scale).
    *
    * A DAG edge needs no marking: dist(w) = dist(v)+1 identifies the
    * successors, so each backward round is one three-way equi-join
    * (edges ⋈ level-k ⋈ level-k+1-with-δ) + one partial-aggregable sum.
    * Float discipline: σ ratios are single IEEE divisions of exact
    * integers; each term fixes to the 12-dp grid and sums as exact
    * DECIMAL(28,12) (order-free); δ publishes per round on the 9-dp
    * grid, and the next round consumes the PUBLISHED value — both
    * engines therefore run the identical rounded recurrence and the
    * hash verifies every δ exactly. */
  def betweenness(edges: DataFrame, hops: Int = 4): DataFrame = {
    val e = directedBySrc(edges)
    // a projection over bfsPathsFrom's own checkpoint, which the
    // returned frame reads
    val fwd = bfsPathsFrom(e, hops)
    var delta = fwd.where(col("dist") === hops)
      .select(col("paper_id").as("id"), lit(0.0).as("delta"))
      .localCheckpoint()
    var acc = delta
    for (k <- hops - 1 to 0 by -1) {
      val lvlK = fwd.where(col("dist") === k)
        .select(col("paper_id").as("id"), col("sigma").as("sv"))
      val lvlK1 = fwd.where(col("dist") === k + 1)
        .select(col("paper_id").as("wid"), col("sigma").as("sw"))
        .join(delta.withColumnRenamed("id", "wid"), Seq("wid"))
      val terms = e.join(lvlK1, e("dst") === lvlK1("wid"))
        .join(lvlK.hint("shuffle_hash"), e("src") === lvlK("id"))
        .select(col("id"),
          round((col("sv").cast("double") / col("sw").cast("double")) *
            (lit(1.0) + col("delta")), 12).cast("decimal(28,12)").as("t"))
        .groupBy(col("id")).agg(sum(col("t")).as("s"))
      val dk = lvlK.select(col("id"), col("sv"))
        .join(terms, Seq("id"), "left_outer")
        .select(col("id"),
          round(coalesce(col("s").cast("double"), lit(0.0)), 9).as("delta"))
        .localCheckpoint()
      delta = dk
      acc = acc.unionByName(dk)
    }
    graft.Blocks.release(e)
    fwd.join(acc.withColumnRenamed("id", "paper_id"), Seq("paper_id"))
      .select(col("paper_id"), col("dist"), col("sigma"), col("delta"))
  }

  /** [[bfsPaths]] over an ALREADY-prepared (deduped, pinned) edge frame —
    * lets [[betweenness]] share one edge checkpoint with its backward
    * pass instead of preparing it twice. */
  private def bfsPathsFrom(e: DataFrame, hops: Int): DataFrame = {
    val seed = counts(e).orderBy(col("citations").desc, col("paper_id").asc)
      .limit(1).select(col("paper_id").as("id"),
        lit(0).as("dist"), lit(new java.math.BigDecimal(1))
          .cast("decimal(38,0)").as("sigma"))
    val seedCut = seed.localCheckpoint()
    val (reached, frontier) = Fixpoint.rounds(hops, (seedCut, seedCut)) {
      case (r, (reached, frontier)) =>
        val cut = r.cut(e.join(frontier.hint("shuffle_hash"), e("src") === frontier("id"))
          .groupBy(e("dst").as("id"))
          .agg(sum(col("sigma")).cast("decimal(38,0)").as("sigma"))
          .join(reached.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), lit(r.i).as("dist"), col("sigma")))
        (r.cut(reached.unionByName(cut)), cut)
    }
    // the last frontier is already folded into reached
    if (frontier ne reached) graft.Blocks.release(frontier)
    // σ accumulated in DECIMAL(38,0) precisely because path counts grow
    // multiplicatively; the BIGINT output boundary (decimal stringifies
    // differently across engines) must therefore fail LOUDLY on overflow
    // — matching the twin, where DuckDB's CAST(... AS BIGINT) raises —
    // instead of Spark's silent non-ANSI null.
    val maxLong = lit(new java.math.BigDecimal(Long.MaxValue))
      .cast("decimal(38,0)")
    reached.select(col("id").as("paper_id"), col("dist"),
      when(col("sigma") > maxLong, raise_error(concat(
        lit("bfsPaths: sigma overflows BIGINT at node "), col("id"))))
        .otherwise(col("sigma").cast("long")).as("sigma"))
  }

  /** DuckDB twin of [[betweenness]]: the forward chain + hops backward
    * rounds, each a correlated per-node sum over the DAG successors on
    * the identical 12-dp/9-dp grids. */
  def betweennessSql(hops: Int = 4): String = {
    val back = (hops - 1 to 0 by -1).map { k =>
      s"""del$k AS MATERIALIZED (
         |  SELECT f.id, round(CAST(coalesce(
         |    (SELECT sum(CAST(round(
         |         (CAST(f.sigma AS DOUBLE) / CAST(g.sigma AS DOUBLE))
         |         * (1 + dl.delta), 12) AS DECIMAL(28,12)))
         |     FROM e JOIN f${k + 1} g ON g.id = e.dst
         |            JOIN del${k + 1} dl ON dl.id = g.id
         |     WHERE e.src = f.id), 0) AS DOUBLE), 9) AS delta
         |  FROM f$k f)""".stripMargin
    }.mkString(",\n")
    val union = (0 to hops).map(k => s"SELECT id, delta FROM del$k")
      .mkString("\n  UNION ALL ")
    s"""${bfsForwardCtes(hops)},
       |del$hops AS MATERIALIZED (
       |  SELECT id, CAST(0 AS DOUBLE) AS delta FROM f$hops),
       |$back,
       |alldel AS (
       |  $union)
       |SELECT r.id AS paper_id, r.dist, CAST(r.sigma AS BIGINT) AS sigma,
       |       d.delta
       |FROM r$hops r JOIN alldel d ON d.id = r.id
       |ORDER BY paper_id""".stripMargin
  }

  /** Harmonic closeness centrality for the top-`nSeeds` most-cited
    * landmark nodes, hops-bounded: per seed, the exact count of nodes
    * first reached at each distance 1..hops and the harmonic sum
    * Σ n_d / d — the landmark-centrality family (a full closeness runs
    * one multi-source wave per landmark batch exactly like this; the
    * harmonic form stays finite on disconnected graphs, Boldi & Vigna
    * 2014). Seeds that reach nothing drop out (no rows to aggregate) —
    * identical semantics in the twin.
    *
    * Scale shape: ONE multi-source wave carries all seeds — frontier
    * rows are (seed, node), so the per-round cost is a single
    * edges⋈frontier join + distinct + anti-join against reached, the
    * [[bfsPaths]] round shape with an 8× wider frontier instead of 8
    * separate traversals. Every count is an exact integer; the ONLY
    * float math is the final ≤ nSeeds-row projection (sequential
    * double adds on the 6-dp grid), so the twin hash-matches without
    * decimal accumulation. */
  def closeness(edges: DataFrame, hops: Int = 4, nSeeds: Int = 8): DataFrame = {
    val e = directedBySrc(edges)
    val seeds = counts(e)
      .orderBy(col("citations").desc, col("paper_id").asc).limit(nSeeds)
      .select(col("paper_id").as("seed"))
    val seedCut = seeds
      .select(col("seed"), col("seed").as("id"), lit(0).as("dist"))
      .localCheckpoint()
    val (reached, frontier) = Fixpoint.rounds(hops, (seedCut, seedCut)) {
      case (r, (reached, frontier)) =>
        val cut = r.cut(e.join(frontier.hint("shuffle_hash"), e("src") === frontier("id"))
          .select(col("seed"), e("dst").as("id")).distinct()
          .join(reached.select(col("seed"), col("id")),
            Seq("seed", "id"), "left_anti")
          .select(col("seed"), col("id"), lit(r.i).as("dist")))
        (r.cut(reached.unionByName(cut)), cut)
    }
    if (frontier ne reached) graft.Blocks.release(frontier)
    val ns = (1 to hops).map(d =>
      sum(when(col("dist") === d, 1L).otherwise(0L)).as(s"n$d"))
    val harmonic = (1 to hops).map(d =>
      col(s"n$d").cast("double") / lit(d.toDouble)).reduce(_ + _)
    val out = reached.where(col("dist") > 0)
      .groupBy(col("seed"))
      .agg(ns.head, (ns.tail :+ count(lit(1)).as("n_reached")): _*)
      .select(col("seed").as("paper_id") +:
        (1 to hops).map(d => col(s"n$d")) :+
        col("n_reached") :+
        round(harmonic, 6).as("harmonic"): _*)
    graft.Blocks.release(e)
    out
  }

  /** DuckDB twin of [[closeness]]: the multi-source wave unrolled as
    * MATERIALIZED CTEs (the [[bfsPathsSql]] convention with a seed
    * column), then the same integer histogram and the same
    * left-to-right double sum on the 6-dp grid. */
  def closenessSql(hops: Int = 4, nSeeds: Int = 8): String = {
    val steps = (1 to hops).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT seed, id, $i AS dist FROM (
         |    SELECT DISTINCT f.seed, e.dst AS id
         |    FROM f${i - 1} f JOIN e ON e.src = f.id) n
         |  WHERE NOT EXISTS (SELECT 1 FROM r${i - 1} r
         |                    WHERE r.seed = n.seed AND r.id = n.id)),
         |r$i AS MATERIALIZED (
         |  SELECT * FROM r${i - 1} UNION ALL SELECT * FROM f$i)""".stripMargin
    }.mkString(",\n")
    val nsSel = (1 to hops).map(d =>
      s"CAST(sum(CASE WHEN dist = $d THEN 1 ELSE 0 END) AS BIGINT) AS n$d")
      .mkString(",\n         ")
    val harm = (1 to hops).map(d => s"CAST(n$d AS DOUBLE) / $d.0")
      .mkString(" + ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS src,
       |         CAST(l_partkey AS VARCHAR) AS dst
       |  FROM lineitem WHERE l_orderkey <> l_partkey),
       |seeds AS MATERIALIZED (
       |  SELECT dst AS seed FROM e
       |  GROUP BY dst ORDER BY count(*) DESC, dst ASC LIMIT $nSeeds),
       |f0 AS MATERIALIZED (SELECT seed, seed AS id, 0 AS dist FROM seeds),
       |r0 AS MATERIALIZED (SELECT * FROM f0),
       |$steps,
       |hist AS (
       |  SELECT seed,
       |         $nsSel,
       |         count(*)::BIGINT AS n_reached
       |  FROM r$hops WHERE dist > 0 GROUP BY seed)
       |SELECT seed AS paper_id, ${(1 to hops).map(d => s"n$d").mkString(", ")},
       |       n_reached, round($harm, 6) AS harmonic
       |FROM hist ORDER BY paper_id""".stripMargin
  }

  /** Edge reciprocity — the directed-graph health metric beside
    * [[citationAssortativity]]: the fraction of distinct edges whose
    * reverse edge also exists (Newman's r for citation graphs; high
    * reciprocity in a supposedly-acyclic citation corpus flags data
    * contamination). ONE row: edge count, reciprocated count, ratio.
    *
    * Scale shape: a single (src, dst)-keyed self-join — both sides
    * exchange on the same composite key, co-partitioned, per-key
    * fan-out exactly 1 (the frame is distinct) — into a
    * partial-aggregable global count. Exact integers + one final
    * integer-ratio round(6). */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.where(col("src") =!= col("dst")).distinct()
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      .withColumn("rcp", lit(1))
    e.join(rev, Seq("src", "dst"), "left_outer")
      .agg(count(lit(1)).as("m"),
        sum(coalesce(col("rcp"), lit(0))).as("reciprocated"))
      .select(col("m"), col("reciprocated"),
        round(col("reciprocated").cast("double") / col("m"), 6)
          .as("reciprocity"))
  }

  /** Fold the [[graft.streaming.GraphStreams.pairViewStream]] pair view
    * into the same (m, reciprocated, reciprocity) row [[reciprocity]]
    * computes from raw edges — the serve path over the streamed view:
    * each undirected pair contributes fwd+rev distinct directed edges,
    * and 2 reciprocated edges iff both directions were seen. */
  def reciprocityFromPairView(view: DataFrame): DataFrame =
    view.agg(
      sum((col("fwd") + col("rev")).cast("long")).as("m"),
      sum((col("fwd") * col("rev") * lit(2)).cast("long")).as("reciprocated"))
      .select(col("m"), col("reciprocated"),
        round(col("reciprocated").cast("double") / col("m"), 6)
          .as("reciprocity"))

  // ---------- directed triad census (motifs) -----------------------------

  /** The 13 connected Holland–Leinhardt triad classes, each pinned by its
    * CANONICAL arc set on nodes A=0, B=1, C=2 (Wasserman & Faust's
    * standard drawings — these literals ARE the definition; the census
    * classifies by isomorphism against them, never by remembered
    * formulas). The 3 disconnected classes (003, 012, 102) are
    * deliberately out of scope: their counts are O(n³) bookkeeping with
    * zero analytic content at corpus scale. */
  private val triadCanon: Seq[(String, Seq[(Int, Int)])] = Seq(
    "021D" -> Seq((1, 0), (1, 2)),                                  // A<-B->C
    "021U" -> Seq((0, 1), (2, 1)),                                  // A->B<-C
    "021C" -> Seq((0, 1), (1, 2)),                                  // A->B->C
    "111D" -> Seq((0, 1), (1, 0), (2, 0)),                          // A<->B<-C
    "111U" -> Seq((0, 1), (1, 0), (0, 2)),                          // A<->B->C
    "201"  -> Seq((0, 1), (1, 0), (1, 2), (2, 1)),                  // A<->B<->C
    "030T" -> Seq((0, 1), (2, 1), (0, 2)),                          // A->B<-C, A->C
    "030C" -> Seq((1, 0), (2, 1), (0, 2)),                          // A<-B<-C, A->C
    "120D" -> Seq((1, 0), (1, 2), (0, 2), (2, 0)),                  // A<-B->C, A<->C
    "120U" -> Seq((0, 1), (2, 1), (0, 2), (2, 0)),                  // A->B<-C, A<->C
    "120C" -> Seq((0, 1), (1, 2), (0, 2), (2, 0)),                  // A->B->C, A<->C
    "210"  -> Seq((0, 1), (1, 2), (2, 1), (0, 2), (2, 0)),          // A->B<->C, A<->C
    "300"  -> Seq((0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0)))  // all

  /** Dyad-state convention shared by the operator and its twin: for a
    * canonical pair a < b, state = fwd + 2·rev with fwd = [a→b exists],
    * rev = [b→a exists] — 1 = a→b only, 2 = b→a only, 3 = mutual. */
  private def triadArcs(sxy: Int, sxz: Int, syz: Int): Seq[(Int, Int)] =
    Seq((sxy, 0, 1), (sxz, 0, 2), (syz, 1, 2)).flatMap { case (s, i, j) =>
      (if ((s & 1) != 0) Seq((i, j)) else Nil) ++
        (if ((s & 2) != 0) Seq((j, i)) else Nil)
    }

  /** For every (sxy, sxz, syz) dyad-state triple of a CLOSED triad
    * (x < y < z, all three pairs connected): the triad class plus the
    * three centered wedge types — what each center's open-wedge tally
    * over-counts by, so the open census can subtract triangles without
    * ever enumerating wedges. Index = (sxy−1)·9 + (sxz−1)·3 + (syz−1),
    * the same base-3 key both engines compute. Built once by canonical-
    * form search over all 6 node permutations — classification is BY
    * ISOMORPHISM against [[triadCanon]], never a hand-derived case
    * table. */
  private lazy val triadTable: IndexedSeq[(String, String, String, String)] = {
    def maskOf(arcs: Seq[(Int, Int)]): Int = arcs.map {
      case (0, 1) => 1; case (1, 0) => 2; case (0, 2) => 4
      case (2, 0) => 8; case (1, 2) => 16; case (2, 1) => 32
    }.sum
    val perms = Seq(0, 1, 2).permutations.toSeq
    def canon(arcs: Seq[(Int, Int)]): Int =
      perms.map(p => maskOf(arcs.map { case (i, j) => (p(i), p(j)) })).min
    val byCanon = triadCanon.map { case (n, a) => canon(a) -> n }.toMap
    // wedge type of dyad (a, b) state s seen from one endpoint:
    // M = mutual, O = center points out, I = center is pointed at
    def rel(s: Int, centerIsA: Boolean): String =
      if (s == 3) "M" else if ((s == 1) == centerIsA) "O" else "I"
    def wedge(t1: String, t2: String): String =
      Seq(t1, t2).sorted.mkString match {
        case "OO" => "021D"; case "II" => "021U"; case "IO" => "021C"
        case "MO" => "111U"; case "IM" => "111D"; case "MM" => "201"
      }
    for {
      sxy <- 1 to 3; sxz <- 1 to 3; syz <- 1 to 3
    } yield (
      byCanon(canon(triadArcs(sxy, sxz, syz))),
      wedge(rel(sxy, centerIsA = true), rel(sxz, centerIsA = true)),   // at x
      wedge(rel(sxy, centerIsA = false), rel(syz, centerIsA = true)),  // at y
      wedge(rel(sxz, centerIsA = false), rel(syz, centerIsA = false))) // at z
  }

  /** `citation_motifs` (oracled): the directed connected-triad census —
    * counts of all 13 connected Holland–Leinhardt classes (021D … 300),
    * THE standard structural signature of a directed graph (triad
    * significance profiles, Milo et al., Science 2004) and the natural
    * next step past [[citationTriangles]]'s single undirected count: a
    * citation corpus should be wildly transitive-heavy (030T) and
    * mutual-free; mass in 030C/300 flags contamination the way
    * [[reciprocity]] does, but localized to motif shape.
    *
    * The 100-TB shape is what makes this operator: open wedges are NEVER
    * enumerated (a celebrity node's wedge set is deg² — the exact bomb
    * triangle orientation exists to dodge). Instead:
    *
    *   1. One shuffle builds the dyad-state pair frame (a < b, state ∈
    *      {1, 2, 3}) — fixed-width keys, map-side combine.
    *   2. Per-node tallies (m, o, i) = (mutual, asym-out, asym-in) dyad
    *      counts give every CENTERED wedge total combinatorially:
    *      C(o,2)→021D, C(i,2)→021U, i·o→021C, m·o→111U, m·i→111D,
    *      C(m,2)→201. O(V) rows, partial-aggregable.
    *   3. Closed triads ride the degree-oriented triangle machinery
    *      ([[orientedTriangles]] — arboricity-bounded, never deg²), each
    *      classified by its three dyad states through the base-3
    *      [[triadTable]] lookup (a literal 27-element array, codegen'd
    *      element_at — no join).
    *   4. Each triangle contributes 3 centered wedges that step 2
    *      counted as if open — the same lookup row says which classes to
    *      subtract. open = tallies − triangle wedges; closed = triangle
    *      classes. Exact integers end-to-end.
    *
    * Total cost: the pair shuffle + the triangle join — the census is
    * free once you can count triangles, which is the Suri–Vassilvitskii
    * point made census-shaped. */
  def motifCensus(edges: DataFrame): DataFrame = {
    val pairs = edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        when(col("src") < col("dst"), 1).otherwise(0).as("f"),
        when(col("src") > col("dst"), 1).otherwise(0).as("r"))
    // the pair aggregate is the cut's shape step, inside its one exchange
    motifCensusFromStates(Blocks.cut(pairs, Seq("a", "b"))(
      _.groupBy(col("a"), col("b"))
        .agg((max(col("f")) + lit(2) * max(col("r"))).as("st"))))
  }

  /** The census over the [[graft.streaming.GraphStreams.pairViewStream]]
    * pair view — the serve path over streamed state (the
    * [[reciprocityFromPairView]] convention): the view's (fwd, rev)
    * flags ARE the dyad state, so the census of a live-maintained graph
    * costs only this fold, never an edge-log replay. */
  def motifCensusFromPairView(view: DataFrame): DataFrame =
    motifCensusFromStates(Blocks.cut(view.select(col("a"), col("b"),
      (col("fwd") + lit(2) * col("rev")).cast("int").as("st")), "a", "b"))

  /** Census core over the canonical dyad-state frame (a < b, st), cut
    * keyed on (a, b) by the caller: read by the node tallies, the
    * triangle machinery, and the three per-triangle state joins. */
  private def motifCensusFromStates(p: DataFrame): DataFrame = {

    // per-node (m, o, i) dyad tallies → combinatorial centered-wedge
    // totals per open class, collapsed to ONE row
    val tallies = p.select(col("a").as("u"),
        when(col("st") === 3, "M").when(col("st") === 1, "O")
          .otherwise("I").as("t"))
      .unionAll(p.select(col("b").as("u"),
        when(col("st") === 3, "M").when(col("st") === 2, "O")
          .otherwise("I").as("t")))
      .groupBy(col("u"))
      .agg(sum(when(col("t") === "M", 1L).otherwise(0L)).as("m"),
        sum(when(col("t") === "O", 1L).otherwise(0L)).as("o"),
        sum(when(col("t") === "I", 1L).otherwise(0L)).as("i"))
      .agg(sum(expr("o * (o - 1) DIV 2")).as("021D"),
        sum(expr("i * (i - 1) DIV 2")).as("021U"),
        sum(expr("i * o")).as("021C"),
        sum(expr("m * o")).as("111U"),
        sum(expr("m * i")).as("111D"),
        sum(expr("m * (m - 1) DIV 2")).as("201"))

    // closed triads: orientation-bounded triangle rows, then the three
    // dyad states via keyed joins on the pinned pair frame
    val (_, tri) = orientedTriangles(p.select(col("a"), col("b")))
    val sorted = tri.select(array_sort(array(col("u"), col("v1"), col("v2"))).as("s"))
      .select(element_at(col("s"), 1).as("x"), element_at(col("s"), 2).as("y"),
        element_at(col("s"), 3).as("z"))
    def st(of: String, k1: String, k2: String) =
      p.select(col("a").as(k1), col("b").as(k2), col("st").as(of))
    val lk = triadTable
    def lkArr(sel: ((String, String, String, String)) => String) =
      array(lk.map(t => lit(sel(t))): _*)
    val idx = (col("sxy") - 1) * 9 + (col("sxz") - 1) * 3 + (col("syz") - 1) + 1
    val classified = sorted
      .join(st("sxy", "x", "y"), Seq("x", "y"))
      .join(st("sxz", "x", "z"), Seq("x", "z"))
      .join(st("syz", "y", "z"), Seq("y", "z"))
      .select(element_at(lkArr(_._1), idx).as("tri_class"),
        element_at(lkArr(_._2), idx).as("wx"),
        element_at(lkArr(_._3), idx).as("wy"),
        element_at(lkArr(_._4), idx).as("wz"))
      .localCheckpoint()
    val closed = classified.groupBy(col("tri_class").as("motif"))
      .agg(count(lit(1)).as("n"))
    val triWedges = classified
      .select(explode(array(col("wx"), col("wy"), col("wz"))).as("motif"))
      .groupBy(col("motif")).agg(count(lit(1)).as("n_closed"))

    val openClasses = Seq("021D", "021U", "021C", "111U", "111D", "201")
    val openTot = tallies.select(explode(array(openClasses.map(c =>
        struct(lit(c).as("motif"), coalesce(col(s"`$c`"), lit(0L)).as("n_tot"))): _*)).as("e"))
      .select(col("e.motif").as("motif"), col("e.n_tot").as("n_tot"))
    val open = openTot.join(triWedges, Seq("motif"), "left_outer")
      .select(col("motif"),
        (col("n_tot") - coalesce(col("n_closed"), lit(0L))).as("n"))

    val catalog = triadCanon.map(_._1)
    val catDf = p.sparkSession.range(catalog.size)
      .select(element_at(array(catalog.map(lit(_)): _*),
        (col("id") + 1).cast("int")).as("motif"))
    catDf.join(open.unionAll(closed), Seq("motif"), "left_outer")
      .groupBy(col("motif"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"))
  }

  /** The DuckDB twin of [[motifCensus]]: the same dyad-state frame, the
    * same combinatorial tallies, the same oriented triangle enumeration,
    * and the IDENTICAL 27-element base-3 lookup lists rendered from
    * [[triadTable]] — classification logic exists once. */
  lazy val motifCensusSql: String = {
    def arr(sel: ((String, String, String, String)) => String) =
      triadTable.map(t => s"'${sel(t)}'").mkString("[", ", ", "]")
    val catalog = triadCanon.map { case (n, _) => s"('$n')" }.mkString(", ")
    s"""WITH e AS (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS src,
       |                  CAST(l_partkey AS VARCHAR) AS dst
       |           FROM lineitem WHERE l_orderkey <> l_partkey),
       |p AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
       |             max(CASE WHEN src < dst THEN 1 ELSE 0 END)
       |             + 2 * max(CASE WHEN src > dst THEN 1 ELSE 0 END) AS st
       |      FROM e GROUP BY 1, 2),
       |tal AS (
       |  SELECT u, sum(CASE WHEN t = 'M' THEN 1 ELSE 0 END) AS m,
       |            sum(CASE WHEN t = 'O' THEN 1 ELSE 0 END) AS o,
       |            sum(CASE WHEN t = 'I' THEN 1 ELSE 0 END) AS i
       |  FROM (SELECT a AS u, CASE WHEN st = 3 THEN 'M'
       |                            WHEN st = 1 THEN 'O' ELSE 'I' END AS t FROM p
       |        UNION ALL
       |        SELECT b, CASE WHEN st = 3 THEN 'M'
       |                       WHEN st = 2 THEN 'O' ELSE 'I' END FROM p)
       |  GROUP BY u),
       |opentot AS (
       |  SELECT '021D' AS motif, sum(o * (o - 1) // 2)::BIGINT AS n_tot FROM tal
       |  UNION ALL SELECT '021U', sum(i * (i - 1) // 2)::BIGINT FROM tal
       |  UNION ALL SELECT '021C', sum(i * o)::BIGINT FROM tal
       |  UNION ALL SELECT '111U', sum(m * o)::BIGINT FROM tal
       |  UNION ALL SELECT '111D', sum(m * i)::BIGINT FROM tal
       |  UNION ALL SELECT '201', sum(m * (m - 1) // 2)::BIGINT FROM tal),
       |deg AS (SELECT n, count(*) AS d FROM
       |        (SELECT a AS n FROM p UNION ALL SELECT b FROM p) GROUP BY 1),
       |o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND p.a < p.b)
       |                  THEN p.a ELSE p.b END AS u,
       |             CASE WHEN da.d < db.d OR (da.d = db.d AND p.a < p.b)
       |                  THEN p.b ELSE p.a END AS v
       |      FROM p JOIN deg da ON da.n = p.a JOIN deg db ON db.n = p.b),
       |tri AS (SELECT e1.u AS u, e1.v AS v1, e2.v AS v2
       |        FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v < e2.v
       |        WHERE EXISTS (SELECT 1 FROM p
       |                      WHERE p.a = e1.v AND p.b = e2.v)),
       |srt AS (SELECT least(u, v1, v2) AS x,
       |               list_sort([u, v1, v2])[2] AS y,
       |               greatest(u, v1, v2) AS z FROM tri),
       |cls AS (
       |  SELECT (${arr(_._1)})[idx] AS tri_class, (${arr(_._2)})[idx] AS wx,
       |         (${arr(_._3)})[idx] AS wy, (${arr(_._4)})[idx] AS wz
       |  FROM (SELECT (pxy.st - 1) * 9 + (pxz.st - 1) * 3 + (pyz.st - 1) + 1 AS idx
       |        FROM srt
       |        JOIN p pxy ON pxy.a = srt.x AND pxy.b = srt.y
       |        JOIN p pxz ON pxz.a = srt.x AND pxz.b = srt.z
       |        JOIN p pyz ON pyz.a = srt.y AND pyz.b = srt.z)),
       |closedc AS (SELECT tri_class AS motif, count(*)::BIGINT AS n
       |            FROM cls GROUP BY 1),
       |triw AS (SELECT motif, count(*)::BIGINT AS n_closed FROM (
       |           SELECT wx AS motif FROM cls
       |           UNION ALL SELECT wy FROM cls
       |           UNION ALL SELECT wz FROM cls) GROUP BY 1),
       |openc AS (SELECT motif, n_tot - COALESCE(n_closed, 0) AS n
       |          FROM opentot LEFT JOIN triw USING (motif)),
       |cat(motif) AS (VALUES $catalog),
       |allc AS (SELECT motif, sum(n)::BIGINT AS n FROM (
       |           SELECT motif, n FROM openc
       |           UNION ALL SELECT motif, n FROM closedc) GROUP BY 1)
       |SELECT cat.motif AS motif, COALESCE(allc.n, 0)::BIGINT AS n
       |FROM cat LEFT JOIN allc USING (motif) ORDER BY motif""".stripMargin
  }

  val reciprocitySql: String =
    """WITH e AS (
      |  SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS src,
      |         CAST(l_partkey AS VARCHAR) AS dst
      |  FROM lineitem WHERE l_orderkey <> l_partkey)
      |SELECT count(*)::BIGINT AS m,
      |       CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS reciprocated,
      |       round(CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
      |                  AS DOUBLE) / count(*), 6) AS reciprocity
      |FROM e LEFT JOIN (SELECT dst AS src, src AS dst FROM e) r
      |  USING (src, dst)""".stripMargin

  /** O16 (reference check.py:31-33): console top-k print. The reference's
    * label says "Top 10" but prints 30 (SURVEY.md §2.3.7 — a cosmetic bug);
    * the spec is 30 rows, so that is what we label and print. */
  def showTop30(counts: DataFrame): Unit = {
    println("Top 30 Most Cited Papers:")
    top30(counts).show(30, truncate = false)
  }

  /** Full pipeline: edges → top30 → report text (collects 30 rows). */
  def report(spark: SparkSession, sfDir: String, generatedOn: String): String = {
    val rows = top30(counts(edges(spark, sfDir)))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSeq
    formatReport(rows, generatedOn)
  }
}
