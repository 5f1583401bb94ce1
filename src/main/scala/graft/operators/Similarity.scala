package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Fixpoint, Tables}

/** Similarity search over `embeddings(vec_id, embedding: array<float>,
  * label)` — the LLM-pipeline ANN slice.
  *
  * Three operators:
  *   - `ann_topk` (oracled): exact cosine top-k for a fixed probe set.
  *     The scalable baseline: probes broadcast, corpus scanned ONCE, and
  *     the per-probe top-k runs as WindowGroupLimit (rank filter pushed
  *     below the shuffle — each input partition keeps only its local
  *     top-k before exchanging), not a per-probe global sort.
  *   - `ann_ivf`: the bucketed scale path. Corpus vectors are assigned to
  *     their nearest of C centroids (IVF coarse quantizer) TRAINED by a
  *     few deterministic spherical-k-means rounds from fixed seeds; a
  *     probe searches only its `nprobe` closest clusters, so the
  *     exact-distance work drops to ~nprobe/C of the corpus. Approximate
  *     by design — recall is asserted against `ann_topk` in
  *     SimilaritySpec, soundness (returned scores are true cosines)
  *     exactly.
  *   - `ann_lsh`: the training-free bucketed path — signed-random-
  *     projection LSH (48 deterministic hyperplanes, 12 bands x 4 bits);
  *     candidates share a band's bit-slice, scored exactly. Same
  *     recall-vs-exact contract as `ann_ivf`, measured in SimilaritySpec.
  *   - `ann_pq`: the memory-compressed path — product quantization
  *     (M=8 subspaces × 16 codes, Jégou et al.), ADC table scoring over
  *     4-byte codes, exact re-rank of the shortlist. Same contract.
  *   - `ann_ivf_pq`: both at once — IVF cluster pruning feeding PQ ADC
  *     scoring (the IVFADC composed index), the layout billion-scale
  *     deployments actually run. Same contract.
  *   - `dedup_embedding`: embedding-cosine near-dup pairs, blocked by
  *     shared IVF cluster (multi-assigned to top-2 clusters for recall),
  *     exact-verified at cos >= 0.45. Rows-only checked: cluster blocking
  *     is probabilistic, the all-pairs oracle would not match at scale.
  *
  * Cross-engine float discipline (for the oracled entry): cosine is
  * computed in DOUBLE with a fixed left-to-right summation order —
  * Spark `aggregate(zip_with(...))` and DuckDB `list_reduce` both fold
  * sequentially, float→double casts are exact, and IEEE ops are
  * deterministic, so the raw doubles agree bit-for-bit; round(6) on both
  * sides is belt-and-braces. Ties in the ranking are broken by vec_id on
  * the ROUNDED score, so rank assignment is identical on both engines.
  */
object Similarity {

  private val NumProbes = 16
  private val TopK = 10
  private val MinCentroids = 32
  private val NumProbeClusters = 8

  /** IVF centroid count — the bucket-granularity knob, derived from corpus
    * size instead of fixed (the round-4 scale defect): C = max(32, ⌈√n⌉)
    * keeps the expected cluster population at √n, so the within-cluster
    * self-join in [[dedupEmbedding]] does O(C·(n/C)²) = O(n^1.5) exact
    * verifications instead of the O(n²/C) a fixed C degrades to — the same
    * size-adaptive treatment `explodeSrpBands` documents for LSH
    * bits-per-band. (In production IVF the usual rule is likewise
    * C ≈ √n to 4√n.) At the test corpora (n ≤ 5000) this floors at 32, so
    * recall measurements against the exact oracle are unchanged; the floor
    * also guarantees the seed set (first C corpus vectors) is never
    * degenerate for tiny n. */
  private[graft] def numCentroids(n: Long): Int =
    math.max(MinCentroids, math.ceil(math.sqrt(n.toDouble)).toInt)

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")

  /** dot(a, b) in double with sequential fold — the cross-engine-stable
    * formulation. */
  private def dotExpr(a: String, b: String): String =
    s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
       |          CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin

  private def cosExpr(a: String, b: String): String =
    s"round(${dotExpr(a, b)} / (sqrt(${dotExpr(a, a)}) * sqrt(${dotExpr(b, b)})), 6)"

  /** Same value through the fused native codegen kernel
    * ([[graft.functions.CosineSimilarity]]) — bit-identical to [[cosExpr]]
    * by the kernel's numeric contract, ~2x cheaper (one tight loop vs
    * three interpreted higher-order folds). Every hot path below uses
    * this; the interpreted form survives only as `ann_topk`'s composable
    * baseline (benchmarked against `ann_topk_fused` on purpose). */
  private def cosFused(a: String, b: String): String =
    s"round(cosine_sim($a, $b), 6)"

  /** Exact cosine top-10 neighbors for probes vec_id < 16: broadcast the
    * probes against one corpus scan, rank per probe. */
  def annTopk(s: SparkSession, d: String): DataFrame =
    annTopkWith(s, d, cosExpr("pe", "embedding"))

  /** Same operator on the fused native codegen kernel
    * ([[graft.functions.CosineSimilarity]], SQL name `cosine_sim` via
    * GraftExtensions): one tight loop instead of three interpreted
    * higher-order folds. Bit-identical scores by the kernel's numeric
    * contract, so it shares ann_topk's DuckDB oracle. */
  def annTopkFused(s: SparkSession, d: String): DataFrame =
    annTopkWith(s, d, "round(cosine_sim(pe, embedding), 6)")

  private def annTopkWith(s: SparkSession, d: String,
                          scoreExpr: String): DataFrame = {
    val e = emb(s, d)
    val probes = e.where(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val scored = e.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), expr(scoreExpr).as("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("cos"))
  }

  val annTopkSql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |probes AS (SELECT vec_id AS probe_id, embedding AS pe FROM e WHERE vec_id < 16),
      |scored AS (
      |  SELECT probe_id, e.vec_id,
      |    round(
      |      list_reduce(list_transform(range(1, len(embedding) + 1),
      |                  i -> pe[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)
      |      / (sqrt(list_reduce(list_transform(range(1, len(pe) + 1),
      |                  i -> pe[i]::DOUBLE * pe[i]::DOUBLE), (x, y) -> x + y))
      |       * sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      |                  i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y))),
      |      6) AS cos
      |  FROM probes, e WHERE e.vec_id <> probe_id)
      |SELECT probe_id, rank, vec_id, cos FROM (
      |  SELECT probe_id, vec_id, cos,
      |         CAST(row_number() OVER (PARTITION BY probe_id
      |                                 ORDER BY cos DESC, vec_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin

  /** Nearest-centroid assignment: every vector of `vecs` gets the `take`
    * closest of the C centroids (IVF coarse quantization). One broadcast
    * of C rows, one corpus scan.
    *
    * take=1 (corpus assignment, every Lloyd training round) is an ARGMIN,
    * not a top-k: it runs as `min(struct(-cos, cid))` with map-side
    * partial aggregation, so each vector's C scored rows collapse to one
    * BEFORE the exchange — at corpus scale the shuffle carries one row
    * per vector, where the window formulation would sort and exchange all
    * corpus×C rows. Ordering matches the window form exactly: struct
    * comparison on (-cos, cid) = (cos desc, cid asc). take>1 (the
    * nprobe-cluster probe fan-out — probe-set-sized, never corpus-sized)
    * keeps the WindowGroupLimit path. */
  private def assignClusters(vecs: DataFrame, centroids: DataFrame,
                             take: Int, idCol: String): DataFrame = {
    val scored = vecs.crossJoin(broadcast(centroids))
      .select(col(idCol), col("embedding"),
        col("cid"), expr(cosFused("ce", "embedding")).as("ccos"))
    if (take == 1) {
      scored.groupBy(col(idCol))
        .agg(min(struct((-col("ccos")).as("nc"), col("cid").as("cid"))).as("m"),
          first(col("embedding")).as("embedding"))
        .select(col(idCol), col("embedding"), col("m.cid").as("cid"))
    } else {
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("ccos").desc, col("cid").asc)
      scored.withColumn("crank", row_number().over(w))
        .where(col("crank") <= take)
        .select(col(idCol), col("embedding"), col("cid"))
    }
  }

  private def seedCentroids(e: DataFrame, c: Int): DataFrame =
    e.where(col("vec_id") < c)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))

  /** Deterministic spherical-k-means refinement of the IVF coarse
    * quantizer: `iters` Lloyd rounds seeded from the first C corpus
    * vectors. Each round assigns every vector to its nearest centroid by
    * cosine (fused kernel, one broadcast of C rows per round) and
    * replaces each centroid with the per-dimension MEAN of its members —
    * the spherical-k-means update (cosine is scale-invariant, so the mean
    * direction needs no normalization). The mean is rounded to 6 decimals
    * so float summation-order noise can never flip a downstream
    * assignment: trained centroids are reproducible across runs and
    * cluster layouts. Clusters that lose all members keep their previous
    * centroid. Same join+aggregate round shape as Citations.pageRank —
    * per-round cost is one corpus scan plus a (C × dim)-row aggregate. */
  private def trainCentroids(e: DataFrame, c: Int, iters: Int = 3): DataFrame =
    Fixpoint.rounds(iters, seedCentroids(e, c).localCheckpoint()) { (r, cs) =>
      val assigned = assignClusters(e, cs, take = 1, idCol = "vec_id")
      val means = assigned
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(round(avg(col("v")), 6).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), expr("transform(pm, x -> CAST(x.m AS FLOAT))").as("mean"))
      r.cut(cs.select(col("cid"), col("ce").as("prev"))
        .join(means, Seq("cid"), "left_outer")
        .select(col("cid"), coalesce(col("mean"), col("prev")).as("ce")))
    }

  /** The trained coarse quantizer is a MODEL ARTIFACT — O(C × dim) floats,
    * independent of corpus size — so it is trained once per dataset and
    * reused by every query against it (exactly how an IVF index works in
    * production: train offline, ship the centroids with the index). The
    * cache holds the collected vectors, not a plan, so reuse costs one
    * tiny localized DataFrame build. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, Seq[Float])]]()

  private[graft] def trainedCentroidRows(
      s: SparkSession, d: String): Seq[(Long, Seq[Float])] =
    centroidCache.computeIfAbsent(d, _ => {
      val e = emb(s, d)
      // one corpus count per dataset (amortized with the training pass)
      // sizes C — see numCentroids for the √n rationale
      val trained = trainCentroids(e, numCentroids(e.count()))
      val collected = trained.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      graft.Blocks.release(trained) // model now lives in this cache
      collected
    })

  private[graft] def trainedCentroids(s: SparkSession, d: String): DataFrame = {
    val rows = trainedCentroidRows(s, d)
    val sp = s
    import sp.implicits._
    rows.toDF("cid", "ce")
  }

  /** IVF approximate top-k: probe only the nprobe nearest clusters. */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cs = trainedCentroids(s, d)
    val corpus = assignClusters(e, cs, take = 1, idCol = "vec_id")
    val probeVecs = e.where(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val probeClusters = assignClusters(probeVecs, cs,
      take = NumProbeClusters, idCol = "probe_id")
      .select(col("probe_id"), col("embedding").as("pe"), col("cid"))
    val cands = probeClusters
      .join(corpus, Seq("cid"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("pe"), col("vec_id"), col("embedding"))
      .dropDuplicates("probe_id", "vec_id")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    cands
      .select(col("probe_id"), col("vec_id"),
        expr(cosFused("pe", "embedding")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** DuckDB cosine over two list columns — the sequential-fold
    * `list_reduce`/`list_transform` formulation that is bit-identical to
    * the fused kernel ([[annTopkSql]]'s established form; see
    * [[graft.functions.CosineSimilarity]]'s numeric contract). Elements
    * widen FLOAT→DOUBLE exactly as the kernel's `getFloat(i).toDouble`. */
  private def duckCos(a: String, b: String): String =
    s"""round(
       |      list_reduce(list_transform(range(1, len($b) + 1),
       |                  i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)
       |      / (sqrt(list_reduce(list_transform(range(1, len($a) + 1),
       |                  i -> $a[i]::DOUBLE * $a[i]::DOUBLE), (x, y) -> x + y))
       |       * sqrt(list_reduce(list_transform(range(1, len($b) + 1),
       |                  i -> $b[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y))),
       |      6)""".stripMargin

  /** DuckDB twin of [[annIvf]], GENERATED against the dataset's trained
    * coarse quantizer — the [[embeddingPcaProjectSql]] dynamic-twin
    * precedent applied to the ANN family (r13/r14 verdict directive).
    * The cached centroids fold in as FLOAT[] VALUES literals
    * (`Float.toString` is shortest-round-trip, so parse→cast lands the
    * identical bits) and DuckDB replays the full IVF DECISION chain:
    * nearest-centroid corpus assignment (argmin on the 6-dp cosine grid,
    * cid tie-break — `assignClusters`' struct-min ordering), the probe's
    * nprobe-cluster fan-out (window rank ≤ nprobe), the candidate-pair
    * union with self-exclusion, and the exact rerank on true cosines.
    * What the gate then hashes is every assignment and ranking decision
    * the index made, not a recall floor. */
  def annIvfSql(s: SparkSession, d: String): String = {
    val values = trainedCentroidRows(s, d).sortBy(_._1).map { case (cid, ce) =>
      s"($cid, ${ce.map(_.toString).mkString("[", ", ", "]")}::FLOAT[])"
    }.mkString(",\n    ")
    s"""WITH centroids(cid, ce) AS (VALUES
       |    $values),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |escored AS (
       |  SELECT vec_id, embedding, cid,
       |    ${duckCos("ce", "embedding")} AS ccos
       |  FROM e CROSS JOIN centroids),
       |corpus AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY ccos DESC, cid) AS rn
       |    FROM escored) WHERE rn = 1),
       |pclusters AS (
       |  SELECT vec_id AS probe_id, cid FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY ccos DESC, cid) AS rn
       |    FROM escored WHERE vec_id < $NumProbes) WHERE rn <= $NumProbeClusters),
       |pv AS (SELECT vec_id AS probe_id, embedding AS pe FROM e
       |       WHERE vec_id < $NumProbes),
       |cands AS (
       |  SELECT DISTINCT p.probe_id, c.vec_id
       |  FROM pclusters p JOIN corpus c USING (cid)
       |  WHERE c.vec_id <> p.probe_id),
       |scored AS (
       |  SELECT probe_id, c.vec_id,
       |    ${duckCos("pe", "embedding")} AS cos
       |  FROM cands c JOIN pv USING (probe_id) JOIN e ON e.vec_id = c.vec_id)
       |SELECT probe_id, rank, vec_id, cos FROM (
       |  SELECT probe_id, vec_id, cos,
       |         CAST(row_number() OVER (PARTITION BY probe_id
       |                                 ORDER BY cos DESC, vec_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $TopK ORDER BY probe_id, rank""".stripMargin
  }

  // 12 bands x 4 bits: for a neighbor at cos 0.5 (θ = 60°, per-bit
  // agreement 1 - θ/π ≈ 0.67) a band matches with p ≈ 0.2, so 12 bands
  // put the miss probability near 0.07 — the MinHash banding math, on
  // angles. Bits-per-band is the bucket-granularity knob (see
  // explodeSrpBands); band COUNT is the recall knob.
  private val NumPlanes = 48
  private val LshBands = 12
  private val LshBitsPerBand = NumPlanes / LshBands

  /** splitmix64 — deterministic avalanche mix, the standard public-domain
    * constants. Used to derive hyperplane coordinates from (plane, dim)
    * indices with no RNG state. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic pseudo-random hyperplanes for signed-random-projection
    * LSH: coordinate (h, j) is splitmix64(h*dim + j) mapped to
    * [-0.5, 0.5). A model artifact like the IVF centroids — O(H × dim)
    * floats, pure function of the indices, no data access, identical on
    * every executor and run. */
  private def srpPlanes(dim: Int): IndexedSeq[IndexedSeq[Float]] =
    (0 until NumPlanes).map(h => (0 until dim).map { j =>
      val u = (mix64(h.toLong * dim + j) >>> 11).toDouble / (1L << 53).toDouble
      (u - 0.5).toFloat
    })

  /** (vec_id, embedding, sig): sig bit h = [dot(v, plane_h) >= 0], packed
    * into one long. Each dot runs through the fused codegen kernel against
    * a LITERAL plane array (cosine shares the dot's sign — norms are
    * positive — so the kernel is reusable as a sign test). Per-row
    * projection, no shuffle. */
  private def withSrpSignature(e: DataFrame, dim: Int): DataFrame = {
    val sig = srpPlanes(dim).zipWithIndex.map { case (p, h) =>
      val arr = p.map(_.toDouble).mkString("array(", ", ", ")")
      when(expr(s"cosine_sim(embedding, $arr)") >= 0, lit(1L << h))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    e.select(col("vec_id"), col("embedding"), sig.as("sig"))
  }

  /** One (row, band, key) per band: key = the band's bit slice of the
    * signature. Key cardinality is 2^bitsPerBand per band — 4 bits here to
    * keep buckets non-degenerate on the 500-vector corpus; at real corpus
    * scale bitsPerBand grows (16-24 bits) so bucket size stays bounded,
    * which is the knob that keeps the band join shuffle-balanced. */
  private def explodeSrpBands(sigged: DataFrame): DataFrame =
    sigged.select(col("vec_id"), col("embedding"),
        explode(expr(
          s"""transform(sequence(0, ${LshBands - 1}),
             |  b -> struct(b AS band,
             |    (shiftright(sig, b * $LshBitsPerBand)
             |     & ${(1 << LshBitsPerBand) - 1}) AS key))""".stripMargin))
          .as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.band").as("band"), col("bk.key").as("key"))

  /** SRP-LSH approximate top-k — the hash-bucketed alternative to the IVF
    * scale path (no training pass; collision probability is a pure
    * function of the angle: P[bit agrees] = 1 - θ/π). A probe scores only
    * vectors sharing at least one of its band buckets; scores are true
    * cosines (soundness exact), recall vs the exact `ann_topk` is measured
    * in SimilaritySpec. Same candidate-join shape as the MinHash dedup
    * family: equi-join on (band, key), never a cartesian. */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    val banded = explodeSrpBands(withSrpSignature(e, dim))
    val probes = banded.where(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("band"), col("key"))
    val cands = probes.join(banded, Seq("band", "key"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("pe"), col("vec_id"), col("embedding"))
      .dropDuplicates("probe_id", "vec_id")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    cands
      .select(col("probe_id"), col("vec_id"),
        expr(cosFused("pe", "embedding")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** DuckDB twin of [[annLsh]] — fully static in principle (the SRP
    * hyperplanes are a pure splitmix64 function of (plane, dim), no data
    * access) but dataset-dependent in practice because the plane count is
    * dim-sized, so it ships through the dynamic-twin channel alongside
    * [[annIvfSql]]. The 48 plane arrays fold in as FLOAT[] literals and
    * DuckDB replays every DECISION: the 48 sign bits, the 12 band keys,
    * the band-bucket candidate join with self-exclusion, and the exact
    * rerank.
    *
    * Sign-bit equivalence: Spark tests `cosine_sim(v, plane) >= 0`; the
    * twin tests `dot(v, plane) >= 0`. Norms are strictly positive for any
    * nonzero operand, so the signs agree wherever cos is finite; for a
    * zero vector Spark's cos is NaN (NaN >= 0 is TRUE in Spark's
    * NaN-largest ordering) and the twin's dot is 0 (0 >= 0 TRUE) — the
    * bit agrees there too, so the mapping is total, not just
    * almost-everywhere. */
  def annLshSql(s: SparkSession, d: String): String = {
    val dim = emb(s, d).select(size(col("embedding"))).first().getInt(0)
    val sigTerms = srpPlanes(dim).zipWithIndex.map { case (p, h) =>
      val plane = p.map(_.toString).mkString("([", ", ", "]::FLOAT[])")
      s"""(CASE WHEN list_reduce(list_transform(range(1, len(embedding) + 1),
         |       i -> embedding[i]::DOUBLE * $plane[i]::DOUBLE),
         |       (x, y) -> x + y) >= 0 THEN ${1L << h} ELSE 0 END)""".stripMargin
    }.mkString("\n    + ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |sigged AS (
       |  SELECT vec_id, embedding,
       |    ($sigTerms)::BIGINT AS sig
       |  FROM e),
       |banded AS (
       |  SELECT vec_id, t.band,
       |         (sig >> (t.band * $LshBitsPerBand)) & ${(1 << LshBitsPerBand) - 1} AS key
       |  FROM sigged CROSS JOIN range(0, $LshBands) t(band)),
       |pb AS (SELECT vec_id AS probe_id, band, key FROM banded
       |       WHERE vec_id < $NumProbes),
       |cands AS (
       |  SELECT DISTINCT p.probe_id, b.vec_id
       |  FROM pb p JOIN banded b USING (band, key)
       |  WHERE b.vec_id <> p.probe_id),
       |pv AS (SELECT vec_id AS probe_id, embedding AS pe FROM e
       |       WHERE vec_id < $NumProbes),
       |scored AS (
       |  SELECT probe_id, c.vec_id,
       |    ${duckCos("pe", "embedding")} AS cos
       |  FROM cands c JOIN pv USING (probe_id) JOIN e ON e.vec_id = c.vec_id)
       |SELECT probe_id, rank, vec_id, cos FROM (
       |  SELECT probe_id, vec_id, cos,
       |         CAST(row_number() OVER (PARTITION BY probe_id
       |                                 ORDER BY cos DESC, vec_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $TopK ORDER BY probe_id, rank""".stripMargin
  }

  // ---------- product quantization (PQ) ----------------------------------

  private val PqM = 8          // subspaces
  private val PqSub = 8        // dims per subspace (M * Sub = embedding dim)
  private val PqK = 16         // codes per subspace -> 4 bits each
  private val PqRerank = 80    // ADC shortlist re-ranked exactly

  /** Squared L2 over two float subvectors (the codebook math is Euclidean
    * — Jégou et al.'s PQ — unlike the cosine used for the IVF coarse
    * quantizer), through the native codegen kernel
    * ([[graft.functions.L2SqDistance]], SQL name `l2_sq`): PQ training
    * and corpus encoding evaluate this corpus × K times per subspace, so
    * the one-loop kernel (bit-identical fold order to the
    * `aggregate(zip_with(...))` form) is the difference between a codegen
    * loop and an interpreted lambda in the hottest PQ stage. */
  private def l2Expr(a: String, b: String): String =
    s"l2_sq($a, $b)"

  /** (vec_id, m, sub): each vector split into M contiguous subvectors —
    * the PQ decomposition, one explode per vector. */
  private def subvectors(vecs: DataFrame, idCol: String): DataFrame =
    vecs.select(col(idCol),
        posexplode(expr(
          s"transform(sequence(0, ${PqM - 1}), m -> slice(embedding, m * $PqSub + 1, $PqSub))"))
          .as(Seq("m", "sub")))

  /** Train the M independent sub-codebooks (K centroids each) with a few
    * deterministic Lloyd rounds, ALL subspaces in one DataFrame
    * computation: rows are (m, code, centroid), assignment is an argmin
    * L2 join on the broadcast M×K codebook, the update is a per-dimension
    * mean (posexplode + group + rebuild), rounded to 6 decimals for
    * run-to-run reproducibility — the same discipline as the IVF coarse
    * quantizer. Seeds: the subvectors of the first K corpus vectors. */
  private def trainCodebooks(e: DataFrame, iters: Int = 2): DataFrame = {
    val subs = subvectors(e, "vec_id").localCheckpoint()
    val books0 = subs.where(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast("int").as("code"), col("sub").as("ce"))
      .localCheckpoint()
    val books = Fixpoint.rounds(iters, books0) { (r, books) =>
      val assigned = subs.join(broadcast(books), Seq("m"))
        .select(col("vec_id"), col("m"), col("sub"), col("code"),
          expr(l2Expr("sub", "ce")).as("d2"))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("d2"), col("code"))).as("mc"),
          first(col("sub")).as("sub"))
        .select(col("m"), col("mc.code").as("code"), col("sub"))
      val means = assigned
        .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy(col("m"), col("code"), col("pos"))
        .agg(round(avg(col("v")), 6).as("mv"))
        .groupBy(col("m"), col("code"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
        .select(col("m"), col("code"),
          expr("transform(pm, x -> CAST(x.mv AS FLOAT))").as("mean"))
      r.cut(books.select(col("m"), col("code"), col("ce").as("prev"))
        .join(means, Seq("m", "code"), "left_outer")
        .select(col("m"), col("code"),
          coalesce(col("mean"), col("prev")).as("ce")))
    }
    // books is lineage-free after its last cut; the exploded subvector
    // frame (corpus-sized × M) is the loop's big pin — drop it now
    graft.Blocks.release(subs)
    books
  }

  /** Codebooks are a model artifact like the IVF centroids — O(M × K ×
    * Sub) floats, trained once per dataset. */
  private val codebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Int, Seq[Float])]]()

  private[graft] def trainedCodebookRows(
      s: SparkSession, d: String): Seq[(Int, Int, Seq[Float])] =
    codebookCache.computeIfAbsent(d, _ => {
      val trained = trainCodebooks(emb(s, d))
      val collected = trained.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2))).toSeq
      graft.Blocks.release(trained) // model now lives in this cache
      collected
    })

  private def trainedCodebooks(s: SparkSession, d: String): DataFrame = {
    val rows = trainedCodebookRows(s, d)
    val sp = s
    import sp.implicits._
    rows.toDF("m", "code", "ce")
  }

  /** PQ-compressed approximate top-k with exact re-rank.
    *
    * The 100-TB story is MEMORY BANDWIDTH: the scored representation of a
    * vector is M 4-bit codes (4 bytes here vs 256 bytes of floats — the
    * compressed index is what a scan reads), and scoring a candidate is M
    * table lookups instead of a D-element loop. Shape: corpus codes are
    * (vec_id, m, code) rows; a probe's ADC table (M × K partial dots +
    * sub-centroid norms, built from the broadcast codebook) joins them on
    * (m, code) — broadcast, never a shuffle of the corpus — and
    * sum-aggregates to an approximate cosine with map-side combine. The
    * ADC top-`PqRerank` shortlist is then re-scored EXACTLY against the
    * full vectors (one semi-join-sized lookup per probe), so emitted
    * scores are true cosines — soundness exact, recall measured in
    * SimilaritySpec against the brute-force twin. */
  def annPq(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val books = trainedCodebooks(s, d)
    val codes = corpusCodes(e, books)
    val probes = e.where(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val scored = codes.join(broadcast(adcTables(probes, books)), Seq("m", "code"))
      .where(col("vec_id") =!= col("probe_id"))
    exactRerank(adcShortlist(scored, probes), e, probes)
  }

  /** ADC score + top-PqRerank shortlist over a (probe_id, vec_id, pdot,
    * cn2) frame — shared by [[annPq]] (whole corpus) and [[annIvfPq]]
    * (IVF-pruned candidates), so the scoring formula and shortlist
    * policy cannot drift between the two. Sum-aggregates with map-side
    * combine; the per-probe top-N plans as WindowGroupLimit. */
  private def adcShortlist(scored: DataFrame, probes: DataFrame): DataFrame = {
    // the M partial dots fold in SUBSPACE ORDER (collect → sort by m →
    // sequential fold), not via sum(): a float sum's order is partition-
    // dependent, so near-tied candidates at the shortlist boundary could
    // rank differently run-to-run and engine-to-engine — the ordered
    // fold makes the ADC score a pure function of the model and the
    // codes, which is what lets the DuckDB twin replay the SHORTLIST
    // decision exactly (r15: ann_pq/ann_ivf_pq graduated from rows-only
    // to hash-oracled on this). The aggregation buffer grows from 2
    // doubles to M=8 structs — still O(M), map-side combinable.
    val adc = scored
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(array_sort(collect_list(
        struct(col("m"), col("pdot"), col("cn2")))).as("parts"))
      .join(broadcast(probeNorms(probes)), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (expr("aggregate(parts, CAST(0 AS DOUBLE), (acc, p) -> acc + p.pdot)")
          / (col("pn") *
            sqrt(expr("aggregate(parts, CAST(0 AS DOUBLE), (acc, p) -> acc + p.cn2)"))))
          .as("adc"))
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc").desc, col("vec_id").asc)
    adc.withColumn("arank", row_number().over(wAdc))
      .where(col("arank") <= PqRerank)
      .select(col("probe_id"), col("vec_id"))
  }

  /** PQ-encode the corpus: nearest sub-centroid per (vec, m) — argmin
    * with map-side combine, same shape as the IVF corpus assignment.
    * (vec_id, m, code): the 4-bit-per-subspace compressed index. */
  private def corpusCodes(e: DataFrame, books: DataFrame): DataFrame =
    subvectors(e, "vec_id").join(broadcast(books), Seq("m"))
      .select(col("vec_id"), col("m"), col("code"),
        expr(l2Expr("sub", "ce")).as("d2"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("code"))).as("mc"))
      .select(col("vec_id"), col("m"), col("mc.code").as("code"))

  /** Per-probe ADC lookup tables: partial dot against every sub-centroid,
    * plus the sub-centroid norm contribution for the approximate |x|.
    * O(probes × M × K) rows — broadcast-sized by construction. */
  private def adcTables(probes: DataFrame, books: DataFrame): DataFrame =
    subvectors(
        probes.select(col("probe_id"), col("pe").as("embedding")), "probe_id")
      .join(broadcast(books), Seq("m"))
      .select(col("probe_id"), col("m"), col("code"),
        expr(s"""aggregate(zip_with(sub, ce,
                 |  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                 |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("pdot"),
        expr(s"""aggregate(zip_with(ce, ce,
                 |  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                 |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("cn2"))

  private def probeNorms(probes: DataFrame): DataFrame =
    probes.select(col("probe_id"),
      expr("sqrt(aggregate(zip_with(pe, pe, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v))").as("pn"))

  /** Exact cosine re-rank of a (probe_id, vec_id) shortlist — emitted
    * scores are always true cosines regardless of how the shortlist was
    * produced (ADC, IVF pruning, or both). */
  private def exactRerank(shortlist: DataFrame, e: DataFrame,
      probes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    shortlist
      .join(e, Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        expr(cosFused("pe", "embedding")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** DuckDB l2_sq twin — the sequential (x−y)² fold matching
    * [[graft.functions.L2SqDistance]]'s numeric contract. */
  private def duckL2(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($b) + 1),
       |      i -> ($a[i]::DOUBLE - $b[i]::DOUBLE)
       |         * ($a[i]::DOUBLE - $b[i]::DOUBLE)), (x, y) -> x + y)"""
      .stripMargin

  private def duckDot(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($b) + 1),
       |      i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"""
      .stripMargin

  /** Shared DuckDB twin body for [[annPq]] / [[annIvfPq]] (r14 verdict
    * directive: the [[annIvfSql]] dynamic-twin pattern extended to the
    * PQ family). The trained codebooks fold in as FLOAT[] VALUES
    * literals and DuckDB replays every DECISION: per-subspace corpus
    * encoding (argmin L2 on the kernel-identical fold, code tie-break),
    * the probe ADC tables, the m-ORDERED partial-dot fold (see
    * [[adcShortlist]] — this ordering is what makes the ADC score a
    * pure function, replayable at all), the top-[[PqRerank]] shortlist
    * cut, and the exact cosine rerank. `ivf = true` additionally folds
    * the coarse-quantizer centroids in and prunes candidates to the
    * probe's nprobe clusters first (the IVFADC composition). */
  private def pqTwinSql(s: SparkSession, d: String, ivf: Boolean): String = {
    val bookValues = trainedCodebookRows(s, d)
      .sortBy(r => (r._1, r._2)).map { case (m, code, ce) =>
        s"($m, $code, ${ce.map(_.toString).mkString("[", ", ", "]")}::FLOAT[])"
      }.mkString(",\n    ")
    val candsCte =
      if (!ivf) "" // whole-corpus ADC: scored joins codes × adct directly
      else {
        val centroidValues = trainedCentroidRows(s, d).sortBy(_._1)
          .map { case (cid, ce) =>
            s"($cid, ${ce.map(_.toString).mkString("[", ", ", "]")}::FLOAT[])"
          }.mkString(",\n    ")
        s"""centroids(cid, cce) AS (VALUES
           |    $centroidValues),
           |escored AS (
           |  SELECT vec_id, cid,
           |    ${duckCos("cce", "embedding")} AS ccos
           |  FROM e CROSS JOIN centroids),
           |corpus AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid,
           |           row_number() OVER (PARTITION BY vec_id
           |                              ORDER BY ccos DESC, cid) AS rn
           |    FROM escored) WHERE rn = 1),
           |pclusters AS (
           |  SELECT vec_id AS probe_id, cid FROM (
           |    SELECT vec_id, cid,
           |           row_number() OVER (PARTITION BY vec_id
           |                              ORDER BY ccos DESC, cid) AS rn
           |    FROM escored WHERE vec_id < $NumProbes)
           |  WHERE rn <= $NumProbeClusters),
           |cands AS (
           |  SELECT DISTINCT p.probe_id, c.vec_id
           |  FROM pclusters p JOIN corpus c USING (cid)
           |  WHERE c.vec_id <> p.probe_id)"""
          .stripMargin
      }
    val scoredCte =
      if (!ivf)
        """scored AS (
          |  SELECT a.probe_id, c.vec_id, a.m, a.pdot, a.cn2
          |  FROM codes c JOIN adct a USING (m, code)
          |  WHERE c.vec_id <> a.probe_id)""".stripMargin
      else
        """scored AS (
          |  SELECT k.probe_id, k.vec_id, a.m, a.pdot, a.cn2
          |  FROM cands k
          |  JOIN codes c USING (vec_id)
          |  JOIN adct a ON a.probe_id = k.probe_id
          |            AND a.m = c.m AND a.code = c.code)""".stripMargin
    s"""WITH books(m, code, ce) AS (VALUES
       |    $bookValues),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |${if (ivf) candsCte + "," else ""}
       |subs AS (
       |  SELECT vec_id, t.m,
       |         embedding[t.m * $PqSub + 1 : t.m * $PqSub + $PqSub] AS sub
       |  FROM e CROSS JOIN range(0, $PqM) t(m)),
       |codes AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, b.code,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY ${duckL2("s.sub", "b.ce")} ASC, b.code ASC) AS rn
       |    FROM subs s JOIN books b ON b.m = s.m) WHERE rn = 1),
       |probes AS (SELECT vec_id AS probe_id, embedding AS pe FROM e
       |           WHERE vec_id < $NumProbes),
       |psubs AS (
       |  SELECT probe_id, t.m,
       |         pe[t.m * $PqSub + 1 : t.m * $PqSub + $PqSub] AS sub
       |  FROM probes CROSS JOIN range(0, $PqM) t(m)),
       |adct AS (
       |  SELECT probe_id, p.m, b.code,
       |         ${duckDot("p.sub", "b.ce")} AS pdot,
       |         ${duckDot("b.ce", "b.ce")} AS cn2
       |  FROM psubs p JOIN books b ON b.m = p.m),
       |pn AS (SELECT probe_id, sqrt(${duckDot("pe", "pe")}) AS pn FROM probes),
       |$scoredCte,
       |adc AS (
       |  SELECT s.probe_id, s.vec_id,
       |    list_reduce(list_transform(parts, x -> x.pdot), (a, b) -> a + b)
       |      / (pn.pn * sqrt(list_reduce(list_transform(parts, x -> x.cn2),
       |                                  (a, b) -> a + b))) AS adc
       |  FROM (SELECT probe_id, vec_id,
       |          list_sort(list(struct_pack(m := m, pdot := pdot,
       |                                     cn2 := cn2))) AS parts
       |        FROM scored GROUP BY 1, 2) s
       |  JOIN pn USING (probe_id)),
       |shortlist AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |           row_number() OVER (PARTITION BY probe_id
       |                              ORDER BY adc DESC, vec_id) AS arank
       |    FROM adc) WHERE arank <= $PqRerank),
       |rer AS (
       |  SELECT sl.probe_id, sl.vec_id,
       |    ${duckCos("p.pe", "e.embedding")} AS cos
       |  FROM shortlist sl JOIN e ON e.vec_id = sl.vec_id
       |  JOIN probes p USING (probe_id))
       |SELECT probe_id, rank, vec_id, cos FROM (
       |  SELECT probe_id, vec_id, cos,
       |         CAST(row_number() OVER (PARTITION BY probe_id
       |                                 ORDER BY cos DESC, vec_id) AS INT) AS rank
       |  FROM rer)
       |WHERE rank <= $TopK ORDER BY probe_id, rank""".stripMargin
  }

  def annPqSql(s: SparkSession, d: String): String = pqTwinSql(s, d, ivf = false)
  def annIvfPqSql(s: SparkSession, d: String): String = pqTwinSql(s, d, ivf = true)

  /** IVF-PQ — the composed billion-scale index layout (Jégou et al.'s
    * IVFADC): the coarse quantizer prunes the candidate set to the
    * probe's nprobe nearest clusters (~nprobe/C of the corpus), and PQ
    * codes score those candidates via ADC table lookups, so the scan
    * touches 4-byte codes instead of 256-byte vectors AND only a
    * cluster-pruned slice of them — the two savings multiply. The ADC
    * shortlist is re-ranked exactly, so emitted scores are true cosines;
    * recall vs the exact `ann_topk` is measured in SimilaritySpec (it
    * composes both stages' misses, so it sits at or below each stage's
    * own recall — the price of the multiplied savings).
    *
    * Scale shape: both model artifacts (centroids, codebooks) broadcast;
    * the candidate join is an equi-join on cid (bucketed, never
    * all-pairs); ADC scoring joins codes on (probe_id, m, code) against a
    * broadcast table and sum-aggregates with map-side combine. */
  def annIvfPq(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cs = trainedCentroids(s, d)
    val books = trainedCodebooks(s, d)
    val corpus = assignClusters(e, cs, take = 1, idCol = "vec_id")
      .select(col("vec_id"), col("cid"))
    val codes = corpusCodes(e, books)
    val probes = e.where(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val probeClusters = assignClusters(
        probes.select(col("probe_id"), col("pe").as("embedding")), cs,
        take = NumProbeClusters, idCol = "probe_id")
      .select(col("probe_id"), col("cid"))
    // IVF prune: a candidate shares one of the probe's nprobe clusters
    val cands = probeClusters.join(corpus, Seq("cid"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id")).distinct()
    // ADC over the pruned candidates only — same scoring/shortlist
    // helper as annPq, different candidate source
    val scored = cands.join(codes, Seq("vec_id"))
      .join(broadcast(adcTables(probes, books)), Seq("probe_id", "m", "code"))
    exactRerank(adcShortlist(scored, probes), e, probes)
  }

  /** Embedding-cosine near-dup pairs (cos >= 0.45), blocked by shared IVF
    * cluster with multi-assignment (each vector joins its top-2 clusters)
    * — never all-pairs. Emitted pairs are exact cosines; recall is
    * probabilistic (pairs split across clusters are missed) and measured
    * in SimilaritySpec. */
  def dedupEmbedding(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val assigned = assignClusters(e, trainedCentroids(s, d), take = 2, idCol = "vec_id")
      .repartition(col("cid"))
    val a = assigned.select(col("cid"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = assigned.select(col("cid"), col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(b, Seq("cid")).where(col("vec_a") < col("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
      .select(col("vec_a"), col("vec_b"), expr(cosFused("ea", "eb")).as("cos"))
      .where(col("cos") >= 0.45)
  }

  /** DuckDB twin of [[dedupEmbedding]] (dynamic — centroid literals):
    * the top-2 cell assignment, cell-sharing pair block (distinct —
    * pairs can share both cells), exact cosine, 0.45 gate. With this the
    * emitted PAIR SET hash-oracles; recall vs all-pairs stays the
    * SimilaritySpec measurement (the twin mirrors the blocking by
    * design, like the docContainment cap). */
  def dedupEmbeddingSql(s: SparkSession, d: String): String = {
    val centroidValues = trainedCentroidRows(s, d).sortBy(_._1)
      .map { case (cid, ce) =>
        s"($cid, ${ce.map(_.toString).mkString("[", ", ", "]")}::FLOAT[])"
      }.mkString(",\n    ")
    s"""WITH centroids(cid, cce) AS (VALUES
       |    $centroidValues),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |escored AS (
       |  SELECT vec_id, cid, ${duckCos("cce", "embedding")} AS ccos
       |  FROM e CROSS JOIN centroids),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |             ORDER BY ccos DESC, cid) AS rn FROM escored)
       |  WHERE rn <= 2),
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM assigned a JOIN assigned b USING (cid)
       |  WHERE a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cos FROM (
       |  SELECT vec_a, vec_b, ${duckCos("ea.embedding", "eb.embedding")} AS cos
       |  FROM pairs JOIN e ea ON ea.vec_id = pairs.vec_a
       |             JOIN e eb ON eb.vec_id = pairs.vec_b)
       |WHERE cos >= 0.45 ORDER BY vec_a, vec_b""".stripMargin
  }

  // ---- distributed PCA (one-pass Gramian + bounded driver eigensolve) ----

  /** Upper-triangle Gramian XᵀX of the embedding matrix as (i, j, v)
    * rows, i ≤ j — the ONE distributed pass of distributed PCA. The
    * outer products materialize through two codegen'd generators and
    * collapse in a partial-aggregating hash aggregate: every partition
    * reduces its slice to ≤ d(d+1)/2 = 2,080 rows before the single
    * shuffle, so the exchanged volume is O(partitions · d²) no matter
    * the corpus size — the pattern that makes PCA feasible at 100 TB
    * (the d×d result is bounded; only IT ever crosses the wire).
    * Products are float→double exact on both engines; the per-cell sum
    * is rounded to the 6-dp grid (q1 convention). */
  def embeddingGram(s: SparkSession, d: String): DataFrame =
    gramOf(emb(s, d))

  /** The Gramian transform itself, shared verbatim by the batch query and
    * the streaming twin ([[graft.streaming.EmbeddingStreams.gramStream]])
    * — a running sum per (i, j) cell is exactly the aggregate Structured
    * Streaming maintains incrementally, with state bounded at d(d+1)/2
    * cells BY SCHEMA. */
  private[graft] def gramOf(vecs: DataFrame): DataFrame =
    vecs
      .select(col("embedding"), posexplode(col("embedding")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("embedding")).as(Seq("j", "xj")))
      .where(col("i") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(round(sum(col("xi").cast("double") * col("xj").cast("double")), 6).as("v"))

  val embeddingGramSql: String =
    """SELECT CAST(t1.i AS INT) AS i, CAST(t2.i AS INT) AS j,
      |       round(sum(CAST(embedding[t1.i + 1] AS DOUBLE)
      |                 * CAST(embedding[t2.i + 1] AS DOUBLE)), 6) AS v
      |FROM embeddings, range(0, 64) t1(i), range(0, 64) t2(i)
      |WHERE t1.i <= t2.i
      |GROUP BY 1, 2 ORDER BY i, j""".stripMargin

  /** Per-dimension symmetric int8 quantization of the embedding corpus —
    * the compression step a 100-TB ANN index runs before anything else
    * (4× smaller vectors, SIMD-friendly integer dot products downstream).
    * scale_i = max|x_i|/127 per dimension; q = round-half-up(x/scale),
    * which lands in [−127, 127] by construction (no clamp branch to
    * diverge on). Emitted per VECTOR as exact summaries — Σq and the
    * saturation count in integer arithmetic, the reconstruction error
    * Σ(x−q·scale)² through the house decimal discipline (each squared
    * term rounded once at 12 dp, summed exactly, one final double) — so
    * the whole quantizer is hash-oracled, not rows-only.
    *
    * Determinism: round-half-up is floor(v + 0.5) in BOTH engines (never
    * the engines' own round(), whose half-even vs half-away semantics
    * differ on exact halves); x/scale and q·scale are single IEEE ops on
    * identical inputs. All-zero dimensions quantize to 0 via the same
    * CASE in both engines (never a 0/0 NaN whose sign could differ).
    *
    * Scale shape: the 64-row scale frame re-aggregates from the exploded
    * corpus (map-side combined) and BROADCASTS back; the per-vector
    * aggregate partial-aggregates the 64 terms before its one shuffle on
    * vec_id. Nothing quadratic, no driver state beyond the 64 scales. */
  def embeddingQuantize(s: SparkSession, d: String): DataFrame = {
    val x = emb(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("i"), col("xf").cast("double").as("x"))
    val scales = x.groupBy(col("i"))
      .agg((max(abs(col("x"))) / lit(127.0)).as("scale"))
    val err = col("x") - col("q").cast("double") * col("scale")
    x.join(broadcast(scales), Seq("i"))
      .select(col("vec_id"), col("x"), col("scale"),
        when(col("scale") === 0, lit(0))
          .otherwise(floor(col("x") / col("scale") + lit(0.5)).cast("int"))
          .as("q"))
      .select(col("vec_id"), col("q"),
        round(err * err, 12).cast("decimal(18,12)").as("t"))
      .groupBy(col("vec_id"))
      .agg(sum(col("q")).as("sum_q"),
        sum(when(abs(col("q")) === 127, 1L).otherwise(0L)).as("n_sat"),
        round(sum(col("t")).cast("double"), 9).as("err2"))
  }

  val embeddingQuantizeSql: String =
    """WITH x AS (
      |  SELECT vec_id, t.i AS i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
      |  FROM embeddings, range(0, 64) t(i)),
      |sc AS (SELECT i, max(abs(x)) / 127.0 AS scale FROM x GROUP BY 1),
      |q AS (SELECT vec_id, x, scale,
      |             CASE WHEN scale = 0 THEN 0
      |                  ELSE CAST(floor(x / scale + 0.5) AS INT) END AS q
      |      FROM x JOIN sc USING (i))
      |SELECT vec_id, CAST(sum(q) AS BIGINT) AS sum_q,
      |       CAST(sum(CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_sat,
      |       round(CAST(sum(CAST(round((x - CAST(q AS DOUBLE) * scale)
      |                     * (x - CAST(q AS DOUBLE) * scale), 12)
      |             AS DECIMAL(18,12))) AS DOUBLE), 9) AS err2
      |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** `embedding_jl_project` (oracled): Johnson–Lindenstrauss random
    * projection to k = 16 dimensions with the database-friendly ±1 sign
    * matrix (Achlioptas, JCSS 2003) — the data-INDEPENDENT counterpart
    * to [[embeddingPcaProject]]. PCA needs a fit pass (Gramian +
    * eigensolve) before it can project anything; JL needs NOTHING from
    * the data — the projection matrix is a pure function of (i, j), so
    * the operator is the only dimensionality reduction you can run on
    * 100 TB in a single map pass over cold data, and the natural first
    * stage before LSH/IVF indexing when d is large. y_j = (1/√k)·Σᵢ
    * s(i,j)·xᵢ with s(i,j) = ±1 drawn from the house LCG
    * (`(i·40503 + j·7919) mod 99991` parity — the [[graft.operators.
    * Citations.mis]] convention), 1/√16 = 0.25 exact in binary.
    *
    * Scale shape: ZERO shuffles — one codegen'd generator (the 16-row j
    * explode) and a sequential `aggregate` fold over the array per
    * output coordinate, no exchange anywhere in the plan (spec-asserted).
    * Both engines fold sequentially in ascending-i order on identical
    * doubles — Spark's `aggregate` and the twin's `list_reduce(
    * list_transform(...))` (the [[annTopk]] convention; a plain SQL
    * `sum()` over unnested rows would leave the accumulation order to
    * the engine's parallel aggregation and make the oracle flaky on a
    * rounding boundary). */
  def embeddingJlProject(s: SparkSession, d: String, k: Int = 16): DataFrame =
    emb(s, d)
      .select(col("vec_id"), col("embedding"),
        explode(expr(s"sequence(0, ${k - 1})")).as("j"))
      .select(col("vec_id"), col("j"),
        round(lit(1.0 / math.sqrt(k)) * expr(
          """aggregate(sequence(0, 63), 0D, (acc, i) ->
            |  acc + IF(pmod(i * 40503 + j * 7919, 99991) % 2 = 0, 1D, -1D)
            |        * CAST(element_at(embedding, i + 1) AS DOUBLE))"""
            .stripMargin), 6).as("y"))

  def embeddingJlProjectSql(k: Int = 16): String =
    s"""SELECT vec_id, CAST(j.j AS INT) AS j,
       |       round(${1.0 / math.sqrt(k)} * list_reduce(
       |         list_transform(range(0, 64), i ->
       |           (CASE WHEN ((i * 40503 + j.j * 7919) % 99991) % 2 = 0
       |                 THEN 1 ELSE -1 END)
       |           * embedding[i + 1]::DOUBLE),
       |         (x, y) -> x + y), 6) AS y
       |FROM embeddings, range(0, $k) j(j)
       |ORDER BY vec_id, j""".stripMargin

  /** The 64 per-dimension quantizer scales as a driver-side model
    * (max|x_i|/127 — O(d) state by construction, the kmeansFit
    * convention): train once over the corpus, then fold into
    * [[quantizeLit]] for the shuffle-free serve path. */
  private[graft] def quantizeScales(s: SparkSession, d: String): Array[Double] = {
    val x = emb(s, d)
      .select(posexplode(col("embedding")).as(Seq("i", "xf")))
      .groupBy(col("i"))
      .agg((max(abs(col("xf").cast("double"))) / lit(127.0)).as("scale"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    Array.tabulate(x.size)(x)
  }

  /** Serve-path quantization under a FIXED scale model: the scales fold
    * into the plan as literals, making this a pure per-row projection —
    * ZERO shuffles, no state, and therefore directly usable as the
    * streaming twin ([[graft.streaming.EmbeddingStreams.quantizeStream]]).
    * Emits the same per-vector summaries as the oracled corpus query
    * [[embeddingQuantize]], with EXACT-arithmetic parity: q is the same
    * floor(x/s + 0.5), Σq and the saturation count are integer folds, and
    * the error sum accumulates the same 12-dp DECIMAL terms — decimal
    * addition is associative, so the higher-order fold's sequential order
    * and the aggregate's shuffle order cannot diverge (asserted
    * term-for-term in GraphStatsSpec / EmbeddingStreamsSpec). */
  private[graft] def quantizeLit(vecs: DataFrame, scales: Array[Double]): DataFrame =
    vecs
      .select(col("vec_id"), col("embedding"),
        array(scales.map(lit(_)): _*).as("sc"))
      .withColumn("qs", expr(
        """zip_with(embedding, sc, (x, s) ->
          |  CASE WHEN s = 0 THEN 0
          |       ELSE CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS INT) END)"""
          .stripMargin))
      .select(col("vec_id"),
        expr("aggregate(qs, CAST(0 AS BIGINT), (a, q) -> a + q)").as("sum_q"),
        expr("CAST(size(filter(qs, q -> abs(q) = 127)) AS BIGINT)").as("n_sat"),
        expr(
          """round(CAST(aggregate(
            |  transform(sequence(0, size(qs) - 1), i ->
            |    CAST(round((CAST(embedding[i] AS DOUBLE)
            |                - CAST(qs[i] AS DOUBLE) * sc[i])
            |               * (CAST(embedding[i] AS DOUBLE)
            |                  - CAST(qs[i] AS DOUBLE) * sc[i]), 12)
            |         AS DECIMAL(18,12))),
            |  CAST(0 AS DECIMAL(28,12)),
            |  (a, t) -> CAST(a + t AS DECIMAL(28,12))) AS DOUBLE), 9)"""
            .stripMargin).as("err2"))

  /** PCA model fit: mean vector + top-k principal components, from ONE
    * corpus pass. The classic augmentation trick folds the mean and the
    * count into the same Gramian — append a constant 1.0 dimension, and
    * G[i,d] = Σxᵢ (the unnormalized mean) while G[d,d] = n — so the fit
    * never scans twice. Driver state is O(d²) = 65×65 doubles BY
    * CONSTRUCTION (never O(n)); the eigensolve (Breeze eigSym — LAPACK
    * dsyevd, deterministic for a fixed matrix) runs on the covariance
    * assembled from that bounded frame. Eigenvector sign is canonicalized
    * (largest-|component| positive) so the model is reproducible. */
  /** One fit per dataset (the centroidCache convention — the model is
    * O(d²) driver state): the PROJECTION QUERY and its generated oracle
    * SQL must consume the IDENTICAL mean/components, because the fit's
    * Gramian sum is a distributed float aggregate whose low-order bits
    * can vary across evaluations — within one Verify JVM the cache makes
    * query and twin bit-consistent by construction. */
  private val pcaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Array[Double], Array[Double], Array[Array[Double]])]()

  private[graft] def pcaFitCached(s: SparkSession, d: String, k: Int)
      : (Long, Array[Double], Array[Double], Array[Array[Double]]) =
    pcaCache.computeIfAbsent(s"$d#$k", _ => pcaFit(s, d, k))

  private[graft] def pcaFit(s: SparkSession, d: String, k: Int)
      : (Long, Array[Double], Array[Double], Array[Array[Double]]) = {
    val dim = 64
    val aug = emb(s, d)
      .select(concat(col("embedding"), array(lit(1.0f))).as("e"))
      .select(col("e"), posexplode(col("e")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("e")).as(Seq("j", "xj")))
      .where(col("i") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("xi").cast("double") * col("xj").cast("double")).as("v"))
      .collect()
    val g = Array.ofDim[Double](dim + 1, dim + 1)
    aug.foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      g(i)(j) = v; g(j)(i) = v
    }
    val n = math.round(g(dim)(dim))
    val mean = Array.tabulate(dim)(i => g(i)(dim) / n)
    val cov = breeze.linalg.DenseMatrix.tabulate(dim, dim) { (i, j) =>
      (g(i)(j) - n * mean(i) * mean(j)) / (n - 1).toDouble
    }
    val es = breeze.linalg.eigSym(cov)
    // eigSym returns ascending eigenvalues; take the top k, descending
    val order = (0 until dim).sortBy(i => -es.eigenvalues(i)).take(k)
    val eigvals = order.map(es.eigenvalues(_)).toArray
    val comps = order.map { c =>
      val v = Array.tabulate(dim)(i => es.eigenvectors(i, c))
      val pivot = v.maxBy(math.abs)
      if (pivot < 0) v.map(-_) else v
    }.toArray
    (n, mean, eigvals, comps)
  }

  /** Project every embedding onto the top-4 principal components. The
    * fitted model folds into the plan as LITERAL weight arrays (the
    * driver-bounded model IS the broadcast — no join, no extra exchange;
    * the projection is a pure per-row map, zero shuffles). Scores are
    * mean-centered (the mean's dot-product folds into a literal offset)
    * and rounded to the 6-dp grid.
    *
    * ORACLED (r12 directive #6): the eigensolve itself can't run in
    * DuckDB, but the fitted model is a bounded artifact — so the twin is
    * GENERATED per dataset ([[embeddingPcaProjectSql]], wired through
    * `SparkEntry.dynamicOracleSql`) with the SAME sign-canonicalized
    * literal components and mean offsets this query folds into its plan.
    * That proves the distributed projection arithmetic end to end (the
    * `search_mmr` greedy-decision convention); the fit's own numeric
    * contract (orthonormal components, descending eigenvalues,
    * per-component variance = eigenvalue, EVR bounds) stays in
    * SimilaritySpec. */
  def embeddingPcaProject(s: SparkSession, d: String): DataFrame = {
    val (_, mean, _, comps) = pcaFitCached(s, d, k = 4)
    val pcs = comps.zipWithIndex.map { case (w, c) =>
      // java.lang.Double.toString round-trips exactly, and Spark's SQL
      // parser reads the scientific-notation form as a DOUBLE literal
      val wLits = w.map(_.toString).mkString("array(", "D, ", "D)")
      val offset = w.zip(mean).map { case (wi, mi) => wi * mi }.sum
      round(expr(
        s"""aggregate(zip_with(embedding, $wLits,
           |          (x, y) -> CAST(x AS DOUBLE) * y),
           |          CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
        - lit(offset), 6).as(s"pc${c + 1}")
    }
    emb(s, d).select(col("vec_id") +: col("label") +: pcs: _*)
  }

  /** DuckDB twin of [[embeddingPcaProject]], GENERATED against the
    * dataset's cached fit: the same `Double.toString` round-trip-exact
    * component literals and mean-dot offsets, the same sequential-fold
    * dot product ([[annTopkSql]]'s list_reduce/list_transform form), the
    * same round(…, 6). Dataset-dependent by necessity — the whole point
    * is that both engines consume ONE fitted eigenbasis — so it ships
    * through `SparkEntry.dynamicOracleSql`, which Verify evaluates with
    * the sfDir in hand. */
  def embeddingPcaProjectSql(s: SparkSession, d: String): String = {
    val (_, mean, _, comps) = pcaFitCached(s, d, k = 4)
    val pcCols = comps.zipWithIndex.map { case (w, c) =>
      val lits = w.map(_.toString).mkString("[", ", ", "]")
      val offset = w.zip(mean).map { case (wi, mi) => wi * mi }.sum
      s"""round(list_reduce(list_transform(range(1, len(embedding) + 1),
         |          i -> embedding[i]::DOUBLE * ($lits)[i]),
         |        (x, y) -> x + y) - (${offset.toString}), 6) AS pc${c + 1}"""
        .stripMargin
    }.mkString(",\n       ")
    s"""SELECT vec_id, label,
       |       $pcCols
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  /** PCA-whitened projection: [[embeddingPcaProject]] with each
    * component additionally scaled by 1/√λ — the standard isotropy
    * correction for embedding similarity (whitened space has unit
    * variance per direction, so cosine/L2 stop being dominated by the
    * top principal direction). The scale FOLDS INTO THE LITERALS:
    * w′ = w/√λ and offset′ = (w′·mean) are computed once on the driver
    * and both engines consume the identical `Double.toString`
    * round-trip-exact arrays — same zero-shuffle per-row map as the
    * projection, same 6-dp grid, same dynamic-twin oracle. The fit's
    * whitening CONTRACT (per-component sample variance = 1, cross-
    * component covariance = 0) is asserted in SimilaritySpec. */
  def embeddingWhiten(s: SparkSession, d: String): DataFrame = {
    val (_, mean, eigvals, comps) = pcaFitCached(s, d, k = 4)
    val pcs = comps.zip(eigvals).zipWithIndex.map { case ((w, ev), c) =>
      require(ev > 0, s"embeddingWhiten: non-positive eigenvalue $ev")
      val ws = w.map(_ / math.sqrt(ev))
      val wLits = ws.map(_.toString).mkString("array(", "D, ", "D)")
      val offset = ws.zip(mean).map { case (wi, mi) => wi * mi }.sum
      round(expr(
        s"""aggregate(zip_with(embedding, $wLits,
           |          (x, y) -> CAST(x AS DOUBLE) * y),
           |          CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
        - lit(offset), 6).as(s"w${c + 1}")
    }
    emb(s, d).select(col("vec_id") +: col("label") +: pcs: _*)
  }

  /** DuckDB twin of [[embeddingWhiten]] — the [[embeddingPcaProjectSql]]
    * generator over the whitened literals. */
  def embeddingWhitenSql(s: SparkSession, d: String): String = {
    val (_, mean, eigvals, comps) = pcaFitCached(s, d, k = 4)
    val pcCols = comps.zip(eigvals).zipWithIndex.map { case ((w, ev), c) =>
      val ws = w.map(_ / math.sqrt(ev))
      val lits = ws.map(_.toString).mkString("[", ", ", "]")
      val offset = ws.zip(mean).map { case (wi, mi) => wi * mi }.sum
      s"""round(list_reduce(list_transform(range(1, len(embedding) + 1),
         |          i -> embedding[i]::DOUBLE * ($lits)[i]),
         |        (x, y) -> x + y) - (${offset.toString}), 6) AS w${c + 1}"""
        .stripMargin
    }.mkString(",\n       ")
    s"""SELECT vec_id, label,
       |       $pcCols
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  /** Dataset-dependent oracles (evaluated by Verify with the sfDir):
    * twins that must consume a fitted model's literals. */
  def dynamicOracles(s: SparkSession, d: String): Map[String, String] = Map(
    "embedding_pca_project" -> embeddingPcaProjectSql(s, d),
    "embedding_whiten" -> embeddingWhitenSql(s, d),
    "ann_ivf" -> annIvfSql(s, d),
    "ann_lsh" -> annLshSql(s, d),
    "ann_pq" -> annPqSql(s, d),
    "ann_ivf_pq" -> annIvfPqSql(s, d),
    "corpus_bitext_mine_ann" -> bitextMineAnnSql(s, d),
    "dedup_embedding" -> dedupEmbeddingSql(s, d)
  )

  // ---- clustering & outlier analytics -----------------------------------

  private val KmK = 8
  private val KmIters = 3
  private val KnnStride = 25
  private val KnnK = 5

  /** A trained centroid as a float-array SQL literal. `Float.toString`
    * emits the shortest decimal that uniquely identifies the float, so
    * parse-as-double → cast-to-float round-trips to the identical bits —
    * the same literal-fold discipline as [[embeddingPcaProject]]'s weight
    * arrays. */
  private def floatArrayLit(v: Array[Float]): String =
    v.map(x => s"CAST(${x.toString} AS FLOAT)").mkString("array(", ", ", ")")

  /** Nearest-centroid assignment with the k-centroid model folded as
    * LITERAL arrays: a pure per-row projection — no join, no broadcast,
    * zero shuffles, one corpus scan (the [[embeddingPcaProject]]
    * model-as-literals pattern; contrast [[assignClusters]], which
    * broadcasts a C-row frame because IVF's C grows with √n while k here
    * is a user constant). Argmin via `array_min` over (dist, cluster)
    * structs = (dist asc, cluster asc) — the tie-break is deterministic
    * on the 6-dp-rounded distance, so both engines pick the same cluster
    * even when two centroids tie at the grid. */
  private[graft] def assignKmLit(e: DataFrame, cs: Array[Array[Float]]): DataFrame = {
    val cands = cs.zipWithIndex.map { case (c, j) =>
      struct(expr(s"round(l2_sq(${floatArrayLit(c)}, embedding), 6)").as("dist"),
        lit(j).as("cluster"))
    }
    e.withColumn("m", array_min(array(cands: _*)))
      .select(col("vec_id"), col("embedding"), col("label"),
        col("m.cluster").as("cluster"), col("m.dist").as("dist"))
  }

  /** Euclidean Lloyd k-means fit: `iters` rounds seeded from the first k
    * corpus vectors. Per round: ONE corpus scan (literal-fold assignment,
    * see [[assignKmLit]]) feeding a (cluster, dim) partial aggregate that
    * collapses to ≤ k×d rows before the exchange — driver model state is
    * k×d floats BY CONSTRUCTION, never O(n). Means are rounded to the
    * 6-dp grid each round (the [[trainCentroids]] cross-engine float
    * discipline: summation-order noise ~1e-15 cannot survive the grid, so
    * the DuckDB twin's unrolled CTEs reproduce the exact same centroids).
    * Clusters that lose all members keep their previous centroid. */
  /** Per-dataset cache of the Lloyd fit — the sccLabelsCached model-
    * artifact discipline: three queries (kmeans, cluster_profile,
    * silhouette) consume the identical model, so the 3-round fit (one
    * corpus scan + k×d collect per round) is paid once per suite. Safe
    * for oracle parity BY CONSTRUCTION: the fit's means live on the
    * round-6 grid ([[trainCentroids]] float discipline), so a recomputed
    * fit is bit-identical to a cached one — unlike [[pcaCache]], which
    * exists for bit-consistency, this cache exists purely for cost.
    *
    * IMMUTABLE-DATASET ASSUMPTION (r14 advice): every model cache in
    * this file (this one, [[pcaCache]], [[centroidCache]]) is keyed by
    * dataset PATH and never invalidated — the contract is that a path's
    * contents do not change within one JVM session (true for the
    * driver's read-only testdata and for production's immutable
    * partitioned snapshots). A session that rewrites data in place must
    * call [[clearModelCaches]] or the consumers serve stale models. */
  private val kmeansCache = new java.util.concurrent.ConcurrentHashMap[
    String, Array[Array[Float]]]()

  /** Explicit invalidation hook for long-lived sessions / tests that
    * rewrite a dataset path in place (see the immutable-dataset note on
    * [[kmeansCache]]). */
  def clearModelCaches(): Unit = {
    kmeansCache.clear()
    pcaCache.clear()
    centroidCache.clear()
    codebookCache.clear()
  }

  private[graft] def kmeansFitCached(s: SparkSession, d: String,
                                     k: Int = KmK, iters: Int = KmIters): Array[Array[Float]] =
    kmeansCache.computeIfAbsent(s"$d#$k#$iters", _ => kmeansFit(s, d, k, iters))

  private[graft] def kmeansFit(s: SparkSession, d: String,
                               k: Int = KmK, iters: Int = KmIters): Array[Array[Float]] = {
    val e = emb(s, d)
    var cs: Array[Array[Float]] = e.where(col("vec_id") < k).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    for (_ <- 1 to iters) {
      val means = assignKmLit(e, cs)
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(round(avg(col("v").cast("double")), 6).as("m"))
        .collect() // ≤ k×64 rows — the model, driver-bounded by schema
      val byCluster = means.groupBy(_.getInt(0))
      cs = Array.tabulate(k) { j =>
        byCluster.get(j).map { rows =>
          val m = new Array[Float](cs(j).length)
          rows.foreach(r => m(r.getInt(1)) = r.getDouble(2).toFloat)
          m
        }.getOrElse(cs(j))
      }
    }
    cs
  }

  /** `embedding_kmeans` (oracled): cluster assignment + distance under
    * the Lloyd-trained model — k=8, 3 rounds, seeds = first 8 vectors.
    * The output query is a single projection over one corpus scan; the
    * DuckDB twin unrolls the identical fit as CTEs (the pageRankSql
    * convention for oracled fixpoints). */
  def embeddingKmeans(s: SparkSession, d: String): DataFrame =
    assignKmLit(emb(s, d), kmeansFitCached(s, d))
      .select(col("vec_id"), col("cluster"), col("dist"))

  /** The DuckDB twin of [[embeddingKmeans]]: seeds → (assign, update) ×
    * iters → final assignment, operation-identical per round — squared-L2
    * folded sequentially in index order (`list_reduce` with the implicit
    * first-element init is bit-equal to the kernel's acc=0 fold), means
    * `round(avg, 6)` cast to REAL exactly like the Scala fit's
    * `.toFloat`, empty clusters kept via the same LEFT JOIN + COALESCE. */
  /** `embedding_cluster_profile` (oracled): per-cluster evaluation of the
    * Lloyd model — size, majority ground-truth label + purity, mean
    * assignment distance. ONE assignment scan: the (cluster, label)
    * partial aggregate carries the label histogram AND the distance sums,
    * then reduces to ≤ k rows; the majority label is a struct-max
    * ((n desc, label asc) — deterministic on ties), never a sort. The
    * whole result is k rows — the cluster-quality dashboard a training
    * pipeline watches to decide whether its data mix drifted. */
  def embeddingClusterProfile(s: SparkSession, d: String): DataFrame = {
    val a = assignKmLit(emb(s, d), kmeansFitCached(s, d))
    a.groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n"), sum(col("dist")).as("sd"))
      .groupBy(col("cluster"))
      .agg(sum(col("n")).as("n_vecs"),
        max(struct(col("n").as("n"), (-col("label")).as("nl"))).as("m"),
        round(sum(col("sd")) / sum(col("n")), 6).as("avg_dist"))
      .select(col("cluster"), col("n_vecs"),
        (-col("m.nl")).cast("int").as("top_label"),
        round(col("m.n").cast("double") / col("n_vecs"), 6).as("purity"),
        col("avg_dist"))
  }

  private[graft] def embeddingKmeansSql(k: Int = KmK, iters: Int = KmIters): String = {
    def assignCte(a: String, c: String): String =
      s"""$a AS (
         |  SELECT vec_id, embedding, cid, dist FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      round(list_reduce(list_transform(range(1, len(embedding) + 1),
         |              i -> (ce[i]::DOUBLE - embedding[i]::DOUBLE)
         |                 * (ce[i]::DOUBLE - embedding[i]::DOUBLE)), (x, y) -> x + y), 6) AS dist,
         |      row_number() OVER (PARTITION BY e.vec_id
         |                         ORDER BY round(list_reduce(list_transform(range(1, len(embedding) + 1),
         |              i -> (ce[i]::DOUBLE - embedding[i]::DOUBLE)
         |                 * (ce[i]::DOUBLE - embedding[i]::DOUBLE)), (x, y) -> x + y), 6), c.cid) AS rn
         |    FROM e, $c c) WHERE rn = 1)""".stripMargin
    def updateCte(m: String, cNew: String, a: String, cPrev: String): String =
      s"""$m AS (
         |  SELECT cid, u.dim, round(avg(u.v), 6) AS m
         |  FROM (SELECT cid, unnest(embedding)::DOUBLE AS v,
         |               generate_subscripts(embedding, 1) AS dim FROM $a) u
         |  GROUP BY cid, u.dim),
         |$cNew AS (
         |  SELECT p.cid, COALESCE(n.ce, p.ce) AS ce
         |  FROM $cPrev p LEFT JOIN (
         |    SELECT cid, list_transform(list(m ORDER BY dim), x -> x::REAL) AS ce
         |    FROM $m GROUP BY cid) n USING (cid))""".stripMargin
    val rounds = (1 to iters).map { t =>
      assignCte(s"a$t", s"c${t - 1}") + ",\n" +
        updateCte(s"m$t", s"c$t", s"a$t", s"c${t - 1}")
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT vec_id::INT AS cid, embedding AS ce FROM e WHERE vec_id < $k),
       |$rounds,
       |${assignCte("afinal", s"c$iters")}""".stripMargin
  }

  private[graft] def embeddingKmeansSqlFull(k: Int = KmK, iters: Int = KmIters): String =
    s"""${embeddingKmeansSql(k, iters)}
       |SELECT vec_id, CAST(cid AS INT) AS cluster, dist
       |FROM afinal ORDER BY vec_id""".stripMargin

  /** The DuckDB twin of [[embeddingClusterProfile]]: the same unrolled
    * fit, then the (cluster, label) histogram + distance sums reduced per
    * cluster; the majority pick is `row_number` over (n desc, label asc)
    * — the same ordering as the Scala struct-max. */
  private[graft] def embeddingClusterProfileSql(k: Int = KmK, iters: Int = KmIters): String =
    s"""${embeddingKmeansSql(k, iters)},
       |g1 AS (
       |  SELECT cid, label, count(*) AS n, sum(dist) AS sd
       |  FROM afinal a JOIN (SELECT vec_id, label FROM embeddings) l USING (vec_id)
       |  GROUP BY cid, label),
       |g2 AS (
       |  SELECT cid, n, label, sd,
       |         row_number() OVER (PARTITION BY cid ORDER BY n DESC, label) AS rn,
       |         CAST(sum(n) OVER (PARTITION BY cid) AS BIGINT) AS n_vecs,
       |         sum(sd) OVER (PARTITION BY cid) AS sds
       |  FROM g1)
       |SELECT CAST(cid AS INT) AS cluster, n_vecs, CAST(label AS INT) AS top_label,
       |       round(n::DOUBLE / n_vecs, 6) AS purity,
       |       round(sds / n_vecs, 6) AS avg_dist
       |FROM g2 WHERE rn = 1 ORDER BY cluster""".stripMargin

  /** `embedding_triplet_mine` (oracled): hard-triplet mining for
    * contrastive training (FaceNet's online mining, Schroff et al. 2015)
    * — per anchor, the HARDEST positive (same label, minimum cosine: the
    * in-class point the encoder has pushed furthest away) and the
    * HARDEST negative (different label, maximum cosine: the impostor
    * it pulled closest), plus the margin pos−neg and a violation flag
    * (margin < 0.05 means this triplet would still produce gradient).
    * This is the mining pass a metric-learning pipeline runs per epoch;
    * the violation RATE over anchors is the curriculum signal.
    *
    * Scale shape: the [[knnRanked]] probe-batch convention verbatim —
    * the bounded anchor batch broadcasts against ONE corpus scan, the
    * per-anchor argmin/argmax collapse through partial-aggregable struct
    * extrema (never a sort), so the cost is one fused-cosine pass. At
    * full 100-TB mining you shard anchors into batches and union —
    * every batch is this exact plan. Ties break to the smaller neighbor
    * id on both engines (struct-min with negated cosine on the negative
    * side; the twin's row_number orders match). Anchors whose class has
    * no other member mine nothing and drop. */
  def embeddingTripletMine(s: SparkSession, d: String,
                           margin: Double = 0.05): DataFrame = {
    val e = emb(s, d)
    val probes = e.where(col("vec_id") % KnnStride === 0)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("pe"),
        col("label").as("a_label"))
    val scored = e.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("a_label"),
        col("vec_id").as("nbr_id"), col("label").as("nbr_label"),
        expr(cosFused("pe", "embedding")).as("cos"))
    scored.groupBy(col("anchor_id"), col("a_label"))
      .agg(
        min(when(col("nbr_label") === col("a_label"),
          struct(col("cos"), col("nbr_id")))).as("p"),
        min(when(col("nbr_label") =!= col("a_label"),
          struct((-col("cos")).as("nc"), col("nbr_id")))).as("ng"))
      .where(col("p").isNotNull && col("ng").isNotNull)
      .select(col("anchor_id"), col("a_label").as("label"),
        col("p.nbr_id").as("pos_id"), col("p.cos").as("pos_cos"),
        col("ng.nbr_id").as("neg_id"), (-col("ng.nc")).as("neg_cos"))
      .withColumn("margin", round(col("pos_cos") - col("neg_cos"), 6))
      .withColumn("violation",
        (col("margin") < lit(margin)).cast("int"))
  }

  def embeddingTripletMineSql(margin: Double = 0.05): String =
    s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
       |probes AS (SELECT vec_id AS anchor_id, embedding AS pe,
       |                  label AS a_label
       |           FROM e WHERE vec_id % $KnnStride = 0),
       |scored AS (
       |  SELECT anchor_id, a_label, e.vec_id AS nbr_id, e.label AS nbr_label,
       |    round(
       |      list_reduce(list_transform(range(1, len(embedding) + 1),
       |                  i -> pe[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)
       |      / (sqrt(list_reduce(list_transform(range(1, len(pe) + 1),
       |                  i -> pe[i]::DOUBLE * pe[i]::DOUBLE), (x, y) -> x + y))
       |       * sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
       |                  i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y))),
       |      6) AS cos
       |  FROM probes, e WHERE e.vec_id <> anchor_id),
       |pos AS (
       |  SELECT anchor_id, a_label, nbr_id AS pos_id, cos AS pos_cos,
       |         row_number() OVER (PARTITION BY anchor_id
       |                            ORDER BY cos, nbr_id) AS rn
       |  FROM scored WHERE nbr_label = a_label),
       |neg AS (
       |  SELECT anchor_id, nbr_id AS neg_id, cos AS neg_cos,
       |         row_number() OVER (PARTITION BY anchor_id
       |                            ORDER BY cos DESC, nbr_id) AS rn
       |  FROM scored WHERE nbr_label <> a_label)
       |SELECT p.anchor_id, p.a_label AS label, p.pos_id, p.pos_cos,
       |       n.neg_id, n.neg_cos,
       |       round(p.pos_cos - n.neg_cos, 6) AS margin,
       |       CASE WHEN round(p.pos_cos - n.neg_cos, 6) < $margin
       |            THEN 1 ELSE 0 END::INT AS violation
       |FROM pos p JOIN neg n ON n.anchor_id = p.anchor_id
       |WHERE p.rn = 1 AND n.rn = 1
       |ORDER BY p.anchor_id""".stripMargin

  /** `embedding_silhouette` (oracled): per-cluster SIMPLIFIED silhouette
    * over the Lloyd model — for each vector, a = distance to its own
    * centroid, b = distance to the nearest OTHER centroid, s = (b−a)/
    * max(a,b); per cluster: size and mean s. The simplified silhouette
    * (Hruschka et al. 2004) is the one that exists at 100 TB: the classic
    * silhouette's a/b are means over ALL points of a cluster — O(n²)
    * pairwise distances — while this is O(n·k) and a pure per-row
    * projection under the same literal-folded centroid kernel as
    * [[embeddingKmeans]] (ZERO extra shuffles beyond the k-row final
    * aggregate). The metric a training pipeline actually watches: mean
    * silhouette collapsing toward 0 says the cluster structure the data
    * mix was balanced on has dissolved.
    *
    * Float discipline: a and b are the same round-6 squared-L2 values the
    * assignment uses; s is round(…, 6); the per-cluster mean accumulates
    * the 6-dp terms as DECIMAL(18,6) — order-free exact — and divides
    * once (the rolling7d rule), so the twin's aggregation order cannot
    * diverge. a = b = 0 (vector equal to two centroids) pins s = 0. */
  def embeddingSilhouette(s: SparkSession, d: String): DataFrame = {
    val cs = kmeansFitCached(s, d)
    val cands = cs.zipWithIndex.map { case (c, j) =>
      struct(expr(s"round(l2_sq(${floatArrayLit(c)}, embedding), 6)").as("dist"),
        lit(j).as("cluster"))
    }
    val sil = emb(s, d)
      .withColumn("ds", array(cands: _*))
      .withColumn("m", array_min(col("ds")))
      .select(col("m.cluster").as("cluster"), col("m.dist").as("a"),
        array_min(expr("filter(ds, x -> x.cluster != m.cluster)"))
          .getField("dist").as("b"))
      .select(col("cluster"),
        when(greatest(col("a"), col("b")) === 0, lit(0.0))
          .otherwise(round((col("b") - col("a")) / greatest(col("a"), col("b")), 6))
          .as("sil"))
    sil.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("sil").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("avg_sil"))
  }

  /** DuckDB twin: the identical unrolled fit, distances to every final
    * centroid, b = min over the non-assigned ones — afinal's dist IS a
    * (same round-6 kernel the oracle already proved bit-equal). */
  private[graft] def embeddingSilhouetteSql(k: Int = KmK, iters: Int = KmIters): String =
    s"""${embeddingKmeansSql(k, iters)},
       |alld AS (
       |  SELECT e.vec_id, c.cid,
       |    round(list_reduce(list_transform(range(1, len(embedding) + 1),
       |      i -> (ce[i]::DOUBLE - embedding[i]::DOUBLE)
       |         * (ce[i]::DOUBLE - embedding[i]::DOUBLE)), (x, y) -> x + y), 6) AS dd
       |  FROM e, c$iters c),
       |silv AS (
       |  SELECT a.vec_id, a.cid AS cluster, a.dist AS adist, min(d.dd) AS bdist
       |  FROM afinal a JOIN alld d ON d.vec_id = a.vec_id AND d.cid <> a.cid
       |  GROUP BY 1, 2, 3)
       |SELECT CAST(cluster AS INT) AS cluster, count(*)::BIGINT AS n_vecs,
       |       round(CAST(sum(CAST(CASE WHEN greatest(adist, bdist) = 0 THEN 0
       |               ELSE round((bdist - adist) / greatest(adist, bdist), 6)
       |             END AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_sil
       |FROM silv GROUP BY 1 ORDER BY 1""".stripMargin

  private val KcK = 8

  /** `sample_kcenter` (oracled): greedy k-center (farthest-point-first)
    * coreset selection over the embeddings — the diversity sampler a
    * training pipeline uses to pick a small set that COVERS the
    * embedding space (2-approximation of the optimal k-center cover),
    * where uniform/stratified sampling would oversample dense regions.
    * Seeded at the min vec_id; each of the k−1 greedy rounds picks the
    * point FARTHEST from the chosen set (max of min-distance, vec_id
    * tie-break). Output: k rows (rank, vec_id, dmin) where dmin is the
    * selection distance — the classic non-increasing coverage-radius
    * sequence (spec-asserted).
    *
    * Scale shape: the chosen set folds into the scan as LITERAL float
    * arrays (the [[assignKmLit]] model-as-literals pattern — no join, no
    * broadcast exchange), so each round is ONE corpus scan into a
    * TakeOrdered(1) reduce; driver state is ≤ k×d floats BY
    * CONSTRUCTION. k scans total — at 100 TB you'd cache the corpus once
    * and the per-round cost is the reduce, exactly how distributed
    * farthest-point traversal is built. Determinism: every per-center
    * distance lands on the 6-dp grid BEFORE the min/argmax (the
    * [[kmeansFit]] cross-engine float discipline), so the DuckDB twin's
    * unrolled rounds pick identical centers. */
  def sampleKcenter(s: SparkSession, d: String, k: Int = KcK): DataFrame = {
    import s.implicits._
    kcenterFit(s, d, k).zipWithIndex
      .map { case ((id, _, dm), i) => (i + 1, id, dm) }
      .toDF("rank", "vec_id", "dmin")
  }

  /** The greedy trace behind [[sampleKcenter]] — (vec_id, embedding,
    * selection dmin) per center, exposed so [[sampleKcenterAssign]] can
    * fold the identical model. */
  private[graft] def kcenterFit(s: SparkSession, d: String,
                                k: Int = KcK): Vector[(Long, Array[Float], Double)] = {
    val e = emb(s, d).select(col("vec_id"), col("embedding"))
    val seed = e.orderBy(col("vec_id")).limit(1).collect()(0)
    var picked = Vector(
      (seed.getLong(0), seed.getSeq[Float](1).toArray, 0.0))
    for (_ <- 2 to k) {
      val ds = picked.map { case (_, c, _) =>
        s"round(l2_sq(${floatArrayLit(c)}, embedding), 6)"
      }
      val dexpr = if (ds.length == 1) ds.head
                  else ds.mkString("least(", ", ", ")")
      val next = e
        .select(col("vec_id"), col("embedding"), expr(dexpr).as("dmin"))
        .orderBy(col("dmin").desc, col("vec_id").asc).limit(1).collect()(0)
      picked = picked :+
        ((next.getLong(0), next.getSeq[Float](1).toArray, next.getDouble(2)))
    }
    picked
  }

  /** `sample_kcenter_assign` (oracled): the coreset's SERVE path — every
    * corpus vector assigned to its nearest k-center, reduced to the
    * k-row coverage profile (population, coverage radius = max assigned
    * distance, mean distance) a curriculum/balancing stage consumes to
    * re-weight regions. Model folds as literals ([[assignKmLit]]
    * pattern): ONE corpus scan, a codegen'd argmin projection, and a
    * partial-aggregable reduce to ≤ k rows — zero joins. Determinism:
    * the argmin ties on the 6-dp grid with center-rank tie-break; the
    * mean accumulates the grid-rounded distances as exact
    * DECIMAL(28,6) (order-free — the betweenness/linkPredict decimal
    * discipline) before ONE final double division on the grid. */
  def sampleKcenterAssign(s: SparkSession, d: String, k: Int = KcK): DataFrame = {
    val centers = kcenterFit(s, d, k)
    val cands = centers.zipWithIndex.map { case ((_, c, _), j) =>
      struct(expr(s"round(l2_sq(${floatArrayLit(c)}, embedding), 6)").as("dist"),
        lit(j + 1).as("kc_rank"))
    }
    emb(s, d)
      .withColumn("m", array_min(array(cands: _*)))
      .groupBy(col("m.kc_rank").as("kc_rank"))
      .agg(count(lit(1)).as("n_assigned"),
        max(col("m.dist")).as("radius"),
        round(sum(col("m.dist").cast("decimal(28,6)")).cast("double") /
          count(lit(1)), 6).as("avg_dist"))
  }

  /** DuckDB twin of [[sampleKcenterAssign]]: the [[sampleKcenterSql]]
    * greedy rounds, centers unioned with their ranks, per-vector argmin
    * via row_number over (dist, kc_rank), the same DECIMAL(28,6)
    * accumulation. */
  private[graft] def sampleKcenterAssignSql(k: Int = KcK): String = {
    val withBody = kcenterRoundsCte(k)
    val centers = (1 to k).map(r =>
      s"SELECT $r AS kc_rank, embedding AS ce FROM c$r")
      .mkString("\n  UNION ALL ")
    s"""$withBody,
       |centers AS (
       |  $centers),
       |assign AS (
       |  SELECT vec_id, kc_rank, dist FROM (
       |    SELECT e.vec_id, c.kc_rank,
       |      round(list_reduce(list_transform(range(1, len(embedding) + 1),
       |              i -> (ce[i]::DOUBLE - embedding[i]::DOUBLE)
       |                 * (ce[i]::DOUBLE - embedding[i]::DOUBLE)), (x, y) -> x + y), 6) AS dist,
       |      row_number() OVER (PARTITION BY e.vec_id
       |                         ORDER BY round(list_reduce(list_transform(range(1, len(embedding) + 1),
       |              i -> (ce[i]::DOUBLE - embedding[i]::DOUBLE)
       |                 * (ce[i]::DOUBLE - embedding[i]::DOUBLE)), (x, y) -> x + y), 6), c.kc_rank) AS rn
       |    FROM e, centers c) WHERE rn = 1)
       |SELECT kc_rank, count(*)::BIGINT AS n_assigned,
       |       max(dist) AS radius,
       |       round(CAST(sum(CAST(dist AS DECIMAL(28,6))) AS DOUBLE)
       |             / count(*), 6) AS avg_dist
       |FROM assign GROUP BY kc_rank ORDER BY kc_rank""".stripMargin
  }

  /** The DuckDB twin of [[sampleKcenter]]: the same greedy rounds
    * unrolled as CTEs (the [[embeddingKmeansSql]] convention) — each
    * round's per-center distance is the identical sequential double fold
    * rounded to the 6-dp grid, the running min accumulates via `least`
    * (associative over the same rounded values, so incremental = the
    * Scala side's full re-min), and each pick is
    * `ORDER BY dmin DESC, vec_id LIMIT 1`. */
  private[graft] def sampleKcenterSql(k: Int = KcK): String = {
    val picks = (2 to k).map(r =>
      s"UNION ALL SELECT CAST($r AS INT), vec_id, dmin FROM c$r").mkString("\n")
    s"""${kcenterRoundsCte(k)}
       |SELECT CAST(1 AS INT) AS rank, vec_id, CAST(0 AS DOUBLE) AS dmin
       |FROM c1
       |$picks
       |ORDER BY rank""".stripMargin
  }

  /** The greedy-rounds WITH body (c1..ck, d1..dk-1) shared by
    * [[sampleKcenterSql]] and [[sampleKcenterAssignSql]] — composed by
    * both instead of string-splitting one from the other, so a cosmetic
    * edit to either final SELECT cannot silently break the twin. */
  private def kcenterRoundsCte(k: Int): String = {
    def l2(a: String, b: String): String =
      s"""round(list_reduce(list_transform(range(1, len($a) + 1),
         |        i -> ($a[i]::DOUBLE - $b[i]::DOUBLE)
         |           * ($a[i]::DOUBLE - $b[i]::DOUBLE)), (x, y) -> x + y), 6)""".stripMargin
    val rounds = (2 to k).map { r =>
      val pick =
        s"""c$r AS (SELECT vec_id, embedding, dmin FROM d${r - 1}
           |        ORDER BY dmin DESC, vec_id LIMIT 1)""".stripMargin
      val dist = if (r < k)
        s""",
           |d$r AS (
           |  SELECT d.vec_id, d.embedding,
           |         least(d.dmin, ${l2("d.embedding", "c.embedding")}) AS dmin
           |  FROM d${r - 1} d, c$r c)""".stripMargin
      else ""
      pick + dist
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c1 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
       |d1 AS (
       |  SELECT e.vec_id, e.embedding,
       |         ${l2("e.embedding", "c1.embedding")} AS dmin
       |  FROM e, c1),
       |$rounds""".stripMargin
  }

  /** `ann_knn_graph` (oracled): the k-NN graph construction primitive —
    * top-5 cosine neighbors for every stride-25 probe node, plus a
    * mutual-kNN flag (both endpoints in each other's top-5), the edge set
    * graph-clustering and near-dup pipelines consume. Probes broadcast
    * against ONE corpus scan; the per-probe top-k runs as
    * WindowGroupLimit (each partition keeps its local top-5 before the
    * exchange). The mutuality self-join runs on the RANKED frame —
    * probes×5 rows, never corpus-sized — cut once (`localCheckpoint`) so
    * the scored subtree isn't re-executed for the reverse side. At 100 TB
    * the probe set is a partition-sized batch: the same plan, batched. */
  /** The ranked (pre-cut) kNN frame — exposed so the plan spec can assert
    * the WindowGroupLimit shape that [[annKnnGraph]]'s lineage cut hides
    * (the IterativePlanSpec convention for checkpointed operators). */
  private[graft] def knnRanked(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val probes = e.where(col("vec_id") % KnnStride === 0)
      .select(col("vec_id").as("src_id"), col("embedding").as("pe"))
    val scored = e.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("src_id"))
      .select(col("src_id"), col("vec_id").as("nbr_id"),
        expr(cosFused("pe", "embedding")).as("cos"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= KnnK)
      .select(col("src_id"), col("rank"), col("nbr_id"), col("cos"))
  }

  def annKnnGraph(s: SparkSession, d: String): DataFrame = {
    val g = knnRanked(s, d)
      .localCheckpoint() // probes×5 rows — bounded; reused for both sides
    val rev = g.select(col("src_id").as("r_src"), col("nbr_id").as("r_nbr"))
    g.join(broadcast(rev),
        col("nbr_id") === col("r_src") && col("src_id") === col("r_nbr"),
        "left_outer")
      .select(col("src_id"), col("rank"), col("nbr_id"), col("cos"),
        col("r_src").isNotNull.cast("int").as("mutual"))
  }

  /** `embedding_knn_classify` (oracled): leave-one-out k-NN label
    * evaluation over the [[knnRanked]] probe set — the label-quality
    * diagnostic a training pipeline runs before trusting a labeled
    * corpus (a label whose neighborhood votes against it is noise or a
    * boundary case; per-class accuracy localizes WHICH class is dirty).
    * Each probe's top-5 cosine neighbors vote; the majority rides the
    * [[graft.operators.Citations.lpa]] fixed-width argmax key
    * (`(9 − votes) ∥ label`, min = most votes / smallest label on ties —
    * votes ≤ 5, one digit), so the prediction is deterministic and both
    * engines agree exactly. Per-class rollup: n, n_correct, the exact
    * ⌊10⁶·acc⌋ anchor (positive DIV = floor on both engines, the
    * [[graft.operators.Profiling.profileKs]] convention) and round(…, 6).
    *
    * Scale shape: the [[annKnnGraph]] argument verbatim — probes
    * broadcast against one corpus scan, WindowGroupLimit top-5, and
    * every post-scoring frame is probes×5-bounded; the label zips ride
    * the bounded side. At 100 TB the probe set is a partition-sized
    * eval sample: same plan, batched. */
  def embeddingKnnClassify(s: SparkSession, d: String): DataFrame = {
    val labels = Tables.load(s, d, "embeddings")
      .select(col("vec_id"), col("label"))
    val g = knnRanked(s, d)
    val voted = g
      .join(labels.select(col("vec_id").as("nbr_id"),
        col("label").as("nbr_label")).hint("shuffle_hash"), Seq("nbr_id"))
      .groupBy(col("src_id"), col("nbr_label"))
      .agg(count(lit(1)).as("v"))
      .groupBy(col("src_id"))
      .agg(min(concat((lit(9) - col("v")).cast("string"),
        col("nbr_label").cast("string"))).as("key"))
      .select(col("src_id"), expr("substring(key, 2)").as("pred"))
    voted
      .join(labels.select(col("vec_id").as("src_id"),
        col("label").cast("string").as("label")), Seq("src_id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n"), col("n_correct"),
        expr("CAST((n_correct * 1000000) DIV n AS BIGINT)").as("acc_ppm"),
        round(col("n_correct").cast("double") / col("n").cast("double"), 6)
          .as("acc"))
  }

  val embeddingKnnClassifySql: String =
    s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
       |probes AS (SELECT vec_id AS src_id, embedding AS pe, label FROM e
       |           WHERE vec_id % $KnnStride = 0),
       |scored AS (
       |  SELECT src_id, e.vec_id AS nbr_id, e.label AS nbr_label,
       |    round(
       |      list_reduce(list_transform(range(1, len(embedding) + 1),
       |                  i -> pe[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)
       |      / (sqrt(list_reduce(list_transform(range(1, len(pe) + 1),
       |                  i -> pe[i]::DOUBLE * pe[i]::DOUBLE), (x, y) -> x + y))
       |       * sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
       |                  i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y))),
       |      6) AS cos
       |  FROM probes, e WHERE e.vec_id <> src_id),
       |g AS (
       |  SELECT src_id, nbr_id, nbr_label,
       |         row_number() OVER (PARTITION BY src_id
       |                            ORDER BY cos DESC, nbr_id) AS rank
       |  FROM scored),
       |votes AS (
       |  SELECT src_id, nbr_label, count(*) AS v
       |  FROM g WHERE rank <= $KnnK GROUP BY 1, 2),
       |pred AS (
       |  SELECT src_id,
       |         substring(min(concat(CAST(9 - v AS VARCHAR),
       |                              CAST(nbr_label AS VARCHAR))), 2) AS pred
       |  FROM votes GROUP BY 1)
       |SELECT CAST(p2.label AS VARCHAR) AS label, count(*) AS n,
       |       CAST(sum(CASE WHEN pred = CAST(p2.label AS VARCHAR)
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |       CAST((sum(CASE WHEN pred = CAST(p2.label AS VARCHAR)
       |                      THEN 1 ELSE 0 END) * 1000000)
       |            // count(*) AS BIGINT) AS acc_ppm,
       |       round(CAST(sum(CASE WHEN pred = CAST(p2.label AS VARCHAR)
       |                           THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*), 6) AS acc
       |FROM pred JOIN probes p2 USING (src_id)
       |GROUP BY 1 ORDER BY label""".stripMargin

  val annKnnGraphSql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |probes AS (SELECT vec_id AS src_id, embedding AS pe FROM e
       |           WHERE vec_id % $KnnStride = 0),
       |scored AS (
       |  SELECT src_id, e.vec_id AS nbr_id,
       |    round(
       |      list_reduce(list_transform(range(1, len(embedding) + 1),
       |                  i -> pe[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)
       |      / (sqrt(list_reduce(list_transform(range(1, len(pe) + 1),
       |                  i -> pe[i]::DOUBLE * pe[i]::DOUBLE), (x, y) -> x + y))
       |       * sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
       |                  i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y))),
       |      6) AS cos
       |  FROM probes, e WHERE e.vec_id <> src_id),
       |g AS (
       |  SELECT src_id, nbr_id, cos,
       |         CAST(row_number() OVER (PARTITION BY src_id
       |                                 ORDER BY cos DESC, nbr_id) AS INT) AS rank
       |  FROM scored)
       |SELECT g.src_id, g.rank, g.nbr_id, g.cos,
       |       CASE WHEN r.src_id IS NOT NULL THEN 1 ELSE 0 END AS mutual
       |FROM g LEFT JOIN g r
       |  ON r.src_id = g.nbr_id AND r.nbr_id = g.src_id AND r.rank <= $KnnK
       |WHERE g.rank <= $KnnK
       |ORDER BY g.src_id, g.rank""".stripMargin

  /** `embedding_outliers` (oracled): distance-to-centroid outlier flags —
    * the embedding-space data-quality filter (mislabeled/corrupt vectors
    * sit far from the corpus mean). Three bounded passes: (1) the per-dim
    * mean, a 64-row aggregate collected and folded back as DOUBLE
    * literals (model-as-literals again — no join); (2) a 1-row
    * (avg, stddev) aggregate over the distances; (3) the flagging
    * projection. Every pass is a full scan + schema-bounded aggregate —
    * nothing corpus-sized ever reaches the driver, and the final pass is
    * Scan → Project, zero exchanges. Distances fold sequentially in index
    * order and land on the 6-dp grid, as does the μ+2σ threshold, so the
    * integer flag is cross-engine stable. */
  def embeddingOutliers(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val mean = e
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(round(avg(col("v").cast("double")), 6).as("m"))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
    val meanLits = mean.map(_.toString).mkString("array(", "D, ", "D)")
    val distExpr = expr(
      s"""round(sqrt(aggregate(zip_with(embedding, $meanLits,
         |  (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
         |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)), 6)""".stripMargin)
    val dists = e.select(col("vec_id"), col("label"), distExpr.as("dist"))
    val Array(thrRow) = dists
      .agg(round(avg(col("dist")) + lit(2) * stddev_samp(col("dist")), 6).as("thr"))
      .collect()
    val thr = thrRow.getDouble(0)
    dists.withColumn("is_outlier", (col("dist") > lit(thr)).cast("int"))
  }

  val embeddingOutliersSql: String =
    """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
      |m AS (
      |  SELECT u.dim, round(avg(u.v), 6) AS m
      |  FROM (SELECT unnest(embedding)::DOUBLE AS v,
      |               generate_subscripts(embedding, 1) AS dim FROM e) u
      |  GROUP BY u.dim),
      |mv AS (SELECT list(m ORDER BY dim) AS mean FROM m),
      |dists AS (
      |  SELECT vec_id, label,
      |    round(sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      |            i -> (embedding[i]::DOUBLE - mean[i])
      |               * (embedding[i]::DOUBLE - mean[i])), (x, y) -> x + y)), 6) AS dist
      |  FROM e, mv),
      |st AS (SELECT round(avg(dist) + 2 * stddev_samp(dist), 6) AS thr FROM dists)
      |SELECT vec_id, label, dist,
      |       CASE WHEN dist > thr THEN 1 ELSE 0 END AS is_outlier
      |FROM dists, st ORDER BY vec_id""".stripMargin

  /** `corpus_bitext_mine` (oracled): margin-based cross-lingual bitext
    * mining — for every non-pivot-language document, its best
    * pivot-language ("en") translation candidate scored by the RATIO
    * MARGIN of Artetxe & Schwenk (2019): margin(x, y) =
    * cos(x, y) / ((mean cos(x, NN_k(x)) + mean cos(y, NN_k(y))) / 2),
    * each side's k-NN taken in the OTHER language's embedding space.
    * Raw cosine mines hub vectors (a generic doc near everything wins
    * every query); dividing by the two neighborhood means normalizes
    * away hubness, which is the whole point — [[corpusLangOverlap]]
    * finds shingle-level leakage, this finds the semantic pairs
    * shingles miss. SimilaritySpec asserts margin actually re-ranks a
    * hub fixture that raw cosine gets wrong.
    *
    * Determinism (cross-engine exact): cosines land on the 6-dp grid
    * first (`cosine_sim` + round — the [[annTopk]] contract), are
    * lifted to exact BIGINT micro-units (×1e6), and every sum/mean
    * after that is INTEGER arithmetic — margin =
    * 2·ci·nf·nb / (sf·nb + sb·nf) evaluated as one division of two
    * exact integers, then rounded — so summation order can never move a
    * hash (the mix_quota discipline). A non-positive denominator
    * (pathological all-negative neighborhoods) maps to margin 0.0, not
    * NULL, keeping the per-probe argmax total.
    *
    * Scale shape: this exact form scores the FULL non-pivot × pivot
    * cross product — it is the ORACLED EXACT TWIN (the [[annTopk]]
    * role), correct and affordable at test scale, quadratic beyond it.
    * The scale path is [[bitextMineAnn]] (`corpus_bitext_mine_ann`):
    * IVF-blocked candidate generation through the shared trained coarse
    * quantizer, then the identical [[bitextMargin]] arithmetic — the
    * [[annIvf]] convention, mirroring how production Artetxe–Schwenk
    * pipelines generate candidates with FAISS. Downstream of the scored
    * frame, both paths are one localCheckpoint cut feeding the two
    * directional WindowGroupLimit top-k aggregates, the broadcast-sized
    * k-NN mean frames, and the final per-probe argmax. */
  private val BitextK = 4
  private val BitextPivotLang = "en"
  private val BitextMarginThreshold = 1.05

  def bitextMineFrom(docs: DataFrame, embs: DataFrame): DataFrame = {
    val (xs, ys) = bitextSides(docs, embs)
    val scored = xs.crossJoin(broadcast(ys))
      .select(col("src_id"), col("src_lang"), col("tgt_id"),
        expr(cosFused("xe", "ye")).as("cos"))
    bitextMargin(scored)
  }

  /** The two language sides: non-pivot probes (src_id, src_lang, xe) and
    * the pivot corpus (tgt_id, ye). */
  private def bitextSides(docs: DataFrame, embs: DataFrame)
      : (DataFrame, DataFrame) = {
    val base = docs.select(col("doc_id"), col("lang"))
      .join(embs.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
    val xs = base.where(col("lang") =!= lit(BitextPivotLang))
      .select(col("doc_id").as("src_id"), col("lang").as("src_lang"),
        col("embedding").as("xe"))
    val ys = base.where(col("lang") === lit(BitextPivotLang))
      .select(col("doc_id").as("tgt_id"), col("embedding").as("ye"))
    (xs, ys)
  }

  /** The margin-scoring pipeline downstream of the scored pair frame —
    * shared verbatim by the exact (cross-product) and ANN-blocked
    * (IVF-candidate) paths, so the approximation lives ONLY in which
    * pairs get scored, never in how a scored pair is ranked. Expects
    * (src_id, src_lang, tgt_id, cos); each (src_id, tgt_id) at most once. */
  private def bitextMargin(scoredIn: DataFrame): DataFrame = {
    val scored = scoredIn
      .withColumn("ci", expr("CAST(round(cos * 1000000) AS BIGINT)"))
      .localCheckpoint() // probes × candidate rows; feeds 3 consumers
    val wf = Window.partitionBy(col("src_id"))
      .orderBy(col("cos").desc, col("tgt_id").asc)
    val f = scored.withColumn("rf", row_number().over(wf))
      .where(col("rf") <= BitextK)
    val fwd = f.groupBy(col("src_id"))
      .agg(sum(col("ci")).as("sf"), count(lit(1)).as("nf"))
    val wb = Window.partitionBy(col("tgt_id"))
      .orderBy(col("cos").desc, col("src_id").asc)
    val bwd = scored.withColumn("rb", row_number().over(wb))
      .where(col("rb") <= BitextK)
      .groupBy(col("tgt_id"))
      .agg(sum(col("ci")).as("sb"), count(lit(1)).as("nb"))
    val cand = f
      .join(fwd, Seq("src_id"))
      .join(broadcast(bwd), Seq("tgt_id"))
      .withColumn("margin", expr(
        """CASE WHEN sf * nb + sb * nf > 0
          |     THEN round(CAST(2 * ci * nf * nb AS DOUBLE)
          |                / CAST(sf * nb + sb * nf AS DOUBLE), 6)
          |     ELSE CAST(0.0 AS DOUBLE) END""".stripMargin))
    val wm = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id").asc)
    cand.withColumn("rk", row_number().over(wm)).where(col("rk") === 1)
      .select(col("src_id"), col("src_lang"), col("tgt_id"), col("cos"),
        col("margin"),
        (col("margin") > lit(BitextMarginThreshold)).cast("int").as("accepted"))
  }

  def bitextMine(s: SparkSession, d: String): DataFrame =
    bitextMineFrom(Tables.load(s, d, "documents"), emb(s, d))

  /** `corpus_bitext_mine_ann` (rows-only): the blocked SCALE PATH for
    * bitext mining — the [[annTopk]] → [[annIvf]] convention applied to
    * [[bitextMine]], which is the one query whose exact form scores the
    * full non-pivot × pivot cross product (fine at test scale, quadratic
    * at 100 TB — and exactly where production Artetxe–Schwenk pipelines
    * switch to FAISS candidate generation). Candidates come from the
    * SAME trained IVF coarse quantizer every ANN query shares
    * ([[trainedCentroids]] — train once per dataset, √n cells): the
    * pivot corpus is assigned to its nearest cell (take = 1, argmin
    * partial-aggregate), each probe fans out to its `NumProbeClusters`
    * nearest cells, and ONLY within-cell pairs are scored — expected
    * scored volume O(|xs| · nprobe · |ys|/C) vs the exact |xs| · |ys|,
    * and no broadcast of a whole language corpus anywhere (the cell join
    * is a keyed shuffle join). take = 1 on the corpus side means each
    * (src, tgt) pair appears at most once, so no dedup pass is needed.
    * The margin arithmetic downstream is [[bitextMargin]] VERBATIM — the
    * k-NN neighborhoods it normalizes by are computed over the candidate
    * set, the standard ANN-mining approximation. Recall floor vs the
    * exact miner asserted in SimilaritySpec (the ScaleSpec LSH-floor
    * pattern). */
  def bitextMineAnn(s: SparkSession, d: String): DataFrame = {
    val (xs, ys) = bitextSides(Tables.load(s, d, "documents"), emb(s, d))
    val cs = trainedCentroids(s, d)
    val yCells = assignClusters(
      ys.select(col("tgt_id"), col("ye").as("embedding")), cs,
      take = 1, idCol = "tgt_id")
      .select(col("tgt_id"), col("embedding").as("ye"), col("cid"))
    val xCells = assignClusters(
      xs.select(col("src_id"), col("xe").as("embedding")), cs,
      take = NumProbeClusters, idCol = "src_id")
      .select(col("src_id"), col("embedding").as("xe"), col("cid"))
    val scored = xCells.join(yCells, Seq("cid"))
      .join(xs.select(col("src_id"), col("src_lang")), Seq("src_id"))
      .select(col("src_id"), col("src_lang"), col("tgt_id"),
        expr(cosFused("xe", "ye")).as("cos"))
    bitextMargin(scored)
  }

  /** Shared twin body for [[bitextMine]] / [[bitextMineAnn]]: the
    * candidate CTE chain (must end with `sc0(src_id, src_lang, tgt_id,
    * cos)`) differs — exhaustive cross vs IVF-cell-blocked — the margin
    * machinery is verbatim-shared so it cannot drift. */
  private def bitextTwinSql(candidateCtes: String): String = {
    s"""WITH base AS (
       |  SELECT d.doc_id, d.lang, e.embedding
       |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
       |xs AS (SELECT doc_id AS src_id, lang AS src_lang, embedding AS xe
       |       FROM base WHERE lang <> '$BitextPivotLang'),
       |ys AS (SELECT doc_id AS tgt_id, embedding AS ye
       |       FROM base WHERE lang = '$BitextPivotLang'),
       |$candidateCtes,
       |scored AS MATERIALIZED (
       |  SELECT *, CAST(round(cos * 1000000) AS BIGINT) AS ci FROM sc0),
       |f AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src_id
       |                ORDER BY cos DESC, tgt_id ASC) AS rf FROM scored)
       |  WHERE rf <= $BitextK),
       |fwd AS (SELECT src_id, CAST(sum(ci) AS BIGINT) AS sf,
       |               count(*) AS nf FROM f GROUP BY 1),
       |bwd AS (
       |  SELECT tgt_id, CAST(sum(ci) AS BIGINT) AS sb, count(*) AS nb
       |  FROM (SELECT *, row_number() OVER (PARTITION BY tgt_id
       |                   ORDER BY cos DESC, src_id ASC) AS rb FROM scored)
       |  WHERE rb <= $BitextK GROUP BY 1),
       |cand AS (
       |  SELECT f.src_id, f.src_lang, f.tgt_id, f.cos,
       |         CASE WHEN sf * nb + sb * nf > 0
       |              THEN round(CAST(2 * ci * nf * nb AS DOUBLE)
       |                         / CAST(sf * nb + sb * nf AS DOUBLE), 6)
       |              ELSE 0.0 END AS margin
       |  FROM f JOIN fwd USING (src_id) JOIN bwd USING (tgt_id))
       |SELECT src_id, src_lang, tgt_id, cos, margin,
       |       CASE WHEN margin > $BitextMarginThreshold THEN 1 ELSE 0 END
       |         AS accepted
       |FROM (SELECT *, row_number() OVER (PARTITION BY src_id
       |                 ORDER BY margin DESC, tgt_id ASC) AS rk FROM cand)
       |WHERE rk = 1
       |ORDER BY src_id""".stripMargin
  }

  val bitextMineSql: String = {
    val cosSql =
      """round(
        |      list_reduce(list_transform(range(1, len(xe) + 1),
        |                  i -> xe[i]::DOUBLE * ye[i]::DOUBLE), (x, y) -> x + y)
        |      / (sqrt(list_reduce(list_transform(range(1, len(xe) + 1),
        |                  i -> xe[i]::DOUBLE * xe[i]::DOUBLE), (x, y) -> x + y))
        |       * sqrt(list_reduce(list_transform(range(1, len(ye) + 1),
        |                  i -> ye[i]::DOUBLE * ye[i]::DOUBLE), (x, y) -> x + y))),
        |      6)""".stripMargin
    bitextTwinSql(
      s"""sc0 AS (
         |  SELECT src_id, src_lang, tgt_id,
         |    $cosSql AS cos
         |  FROM xs, ys)""".stripMargin)
  }

  /** DuckDB twin of [[bitextMineAnn]] (dynamic — the trained coarse
    * quantizer folds in as literals): x docs fan out to their nprobe
    * cells, y docs sit in their single nearest cell, candidates share a
    * cell (each pair matches at most once since the y side is take=1),
    * then the exact margin machinery runs verbatim on the blocked set. */
  def bitextMineAnnSql(s: SparkSession, d: String): String = {
    val centroidValues = trainedCentroidRows(s, d).sortBy(_._1)
      .map { case (cid, ce) =>
        s"($cid, ${ce.map(_.toString).mkString("[", ", ", "]")}::FLOAT[])"
      }.mkString(",\n    ")
    bitextTwinSql(
      s"""centroids(cid, cce) AS (VALUES
         |    $centroidValues),
         |yscored AS (
         |  SELECT tgt_id, cid, ${duckCos("cce", "ye")} AS ccos
         |  FROM ys CROSS JOIN centroids),
         |ycells AS (
         |  SELECT tgt_id, cid FROM (
         |    SELECT tgt_id, cid, row_number() OVER (PARTITION BY tgt_id
         |             ORDER BY ccos DESC, cid) AS rn FROM yscored)
         |  WHERE rn = 1),
         |xscored AS (
         |  SELECT src_id, cid, ${duckCos("cce", "xe")} AS ccos
         |  FROM xs CROSS JOIN centroids),
         |xcells AS (
         |  SELECT src_id, cid FROM (
         |    SELECT src_id, cid, row_number() OVER (PARTITION BY src_id
         |             ORDER BY ccos DESC, cid) AS rn FROM xscored)
         |  WHERE rn <= $NumProbeClusters),
         |sc0 AS (
         |  SELECT x.src_id, xs.src_lang, y.tgt_id,
         |    ${duckCos("xs.xe", "ys.ye")} AS cos
         |  FROM xcells x JOIN ycells y USING (cid)
         |  JOIN xs ON xs.src_id = x.src_id
         |  JOIN ys ON ys.tgt_id = y.tgt_id)""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_bitext_mine" -> (bitextMine _),
    "corpus_bitext_mine_ann" -> (bitextMineAnn _),
    "embedding_gram" -> (embeddingGram _),
    "embedding_quantize" -> (embeddingQuantize _),
    "embedding_pca_project" -> (embeddingPcaProject _),
    "embedding_whiten" -> (embeddingWhiten _),
    "embedding_jl_project" -> ((s, d) => embeddingJlProject(s, d)),
    "embedding_kmeans" -> (embeddingKmeans _),
    "embedding_cluster_profile" -> (embeddingClusterProfile _),
    "embedding_silhouette" -> (embeddingSilhouette _),
    "embedding_triplet_mine" -> ((s, d) => embeddingTripletMine(s, d)),
    "sample_kcenter" -> ((s, d) => sampleKcenter(s, d)),
    "sample_kcenter_assign" -> ((s, d) => sampleKcenterAssign(s, d)),
    "embedding_outliers" -> (embeddingOutliers _),
    "ann_knn_graph" -> (annKnnGraph _),
    "embedding_knn_classify" -> (embeddingKnnClassify _),
    "ann_topk" -> (annTopk _),
    "ann_topk_fused" -> (annTopkFused _),
    "ann_ivf" -> (annIvf _),
    "ann_lsh" -> (annLsh _),
    "ann_pq" -> (annPq _),
    "ann_ivf_pq" -> (annIvfPq _),
    "dedup_embedding" -> (dedupEmbedding _)
  )

  /** The exact operators are oracle-checked (the fused kernel is
    * bit-identical, so it shares the oracle); the IVF paths are
    * approximate by design (rows-only in the driver, recall/soundness
    * asserted in SimilaritySpec). */
  val oracles: Map[String, String] = Map(
    "ann_topk" -> annTopkSql,
    "ann_topk_fused" -> annTopkSql,
    "embedding_gram" -> embeddingGramSql,
    "embedding_quantize" -> embeddingQuantizeSql,
    "embedding_jl_project" -> embeddingJlProjectSql(),
    "embedding_kmeans" -> embeddingKmeansSqlFull(),
    "embedding_cluster_profile" -> embeddingClusterProfileSql(),
    "embedding_silhouette" -> embeddingSilhouetteSql(),
    "embedding_triplet_mine" -> embeddingTripletMineSql(),
    "sample_kcenter" -> sampleKcenterSql(),
    "sample_kcenter_assign" -> sampleKcenterAssignSql(),
    "embedding_outliers" -> embeddingOutliersSql,
    "ann_knn_graph" -> annKnnGraphSql,
    "embedding_knn_classify" -> embeddingKnnClassifySql,
    "corpus_bitext_mine" -> bitextMineSql
  )

  val verifyOrder: Map[String, Seq[Column]] = Map(
    "embedding_gram" -> Seq(col("i"), col("j")),
    "embedding_quantize" -> Seq(col("vec_id")),
    "embedding_pca_project" -> Seq(col("vec_id")),
    "embedding_whiten" -> Seq(col("vec_id")),
    "embedding_jl_project" -> Seq(col("vec_id"), col("j")),
    "embedding_kmeans" -> Seq(col("vec_id")),
    "embedding_cluster_profile" -> Seq(col("cluster")),
    "embedding_silhouette" -> Seq(col("cluster")),
    "embedding_triplet_mine" -> Seq(col("anchor_id")),
    "sample_kcenter" -> Seq(col("rank")),
    "sample_kcenter_assign" -> Seq(col("kc_rank")),
    "embedding_outliers" -> Seq(col("vec_id")),
    "ann_knn_graph" -> Seq(col("src_id"), col("rank")),
    "embedding_knn_classify" -> Seq(col("label")),
    "ann_topk" -> Seq(col("probe_id"), col("rank")),
    "ann_topk_fused" -> Seq(col("probe_id"), col("rank")),
    "ann_ivf" -> Seq(col("probe_id"), col("rank")),
    "ann_lsh" -> Seq(col("probe_id"), col("rank")),
    "ann_pq" -> Seq(col("probe_id"), col("rank")),
    "ann_ivf_pq" -> Seq(col("probe_id"), col("rank")),
    "dedup_embedding" -> Seq(col("vec_a"), col("vec_b")),
    "corpus_bitext_mine" -> Seq(col("src_id")),
    "corpus_bitext_mine_ann" -> Seq(col("src_id"))
  )
}
