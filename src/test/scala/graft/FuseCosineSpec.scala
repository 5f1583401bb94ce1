package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.expr

import graft.operators.Similarity

class FuseCosineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  // the exact formulation Similarity.cosExpr builds — three sequential
  // HOF folds over float arrays
  private val hofCosine =
    """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
      |          CAST(0 AS DOUBLE), (acc, v) -> acc + v)
      |/ (sqrt(aggregate(zip_with(a, a, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
      |                  CAST(0 AS DOUBLE), (acc, v) -> acc + v))
      | * sqrt(aggregate(zip_with(b, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
      |                  CAST(0 AS DOUBLE), (acc, v) -> acc + v)))""".stripMargin

  private def withFusion[A](on: Boolean)(body: => A): A =
    withFusionConf(on.toString)(body)

  private def withFusionConf[A](value: String)(body: => A): A = {
    spark.conf.set("spark.graft.fuse_cosine", value)
    try body finally spark.conf.unset("spark.graft.fuse_cosine")
  }

  // parquet-backed (a literal frame constant-folds to a LocalTableScan
  // and leaves no plan to inspect); self-cosine so the expected value is 1
  private def corpusAB = {
    import org.apache.spark.sql.functions.col
    Tables.load(spark, sf, "embeddings")
      .select(col("embedding").as("a"), col("embedding").as("b"))
  }

  test("HOF cosine over float arrays is rewritten to the fused kernel") {
    val df = corpusAB.select(expr(hofCosine).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cosine_sim"), s"not fused:\n$plan")
    assert(!plan.contains("aggregate("), s"HOF survived:\n$plan")
    assert(math.abs(df.as[Double].head() - 1.0) < 1e-12)
  }

  test("ann_topk's interpreted formulation now plans through the kernel") {
    val plan = Similarity.annTopk(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("cosine_sim"), s"ann_topk not fused:\n$plan")
  }

  test("fusion is bit-identical on the corpus (rule off vs on)") {
    val off = withFusion(false) {
      Similarity.annTopk(spark, sf)
        .as[(Long, Int, Long, Double)].collect().toSet
    }
    val on = withFusion(true) {
      Similarity.annTopk(spark, sf)
        .as[(Long, Int, Long, Double)].collect().toSet
    }
    assert(on === off)
  }

  test("spark.graft.fuse_cosine=false leaves the HOF plan untouched") {
    withFusion(false) {
      val plan = corpusAB.select(expr(hofCosine).as("c"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("aggregate("), s"HOF missing from plan:\n$plan")
      assert(!plan.contains("cosine_sim"), s"fused despite conf off:\n$plan")
    }
  }

  test("a malformed spark.graft.fuse_cosine plans through the kernel, not a throw") {
    // only a case-insensitive "false" turns the rule off; a value that is
    // not a boolean must not fail the optimizer for every query
    withFusionConf("nope") {
      val plan = corpusAB.select(expr(hofCosine).as("c"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("cosine_sim"), s"not fused under a malformed conf:\n$plan")
    }
    withFusionConf("FALSE") {
      val plan = corpusAB.select(expr(hofCosine).as("c"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("cosine_sim"), s"fused despite conf FALSE:\n$plan")
    }
  }

  test("double-array cosine is NOT rewritten (kernel is float-only)") {
    import org.apache.spark.sql.functions.col
    val dbl = Tables.load(spark, sf, "embeddings")
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS a")
      .select(col("a"), col("a").as("b"))
    val plan = dbl.select(expr(hofCosine).as("c"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("cosine_sim"), s"unsound rewrite on doubles:\n$plan")
  }

  test("a non-dot merge lambda is NOT rewritten (acc - v)") {
    val notDot = hofCosine.replace("(acc, v) -> acc + v", "(acc, v) -> acc - v")
    val plan = corpusAB.select(expr(notDot).as("c"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("cosine_sim"), s"unsound rewrite:\n$plan")
  }

  test("mismatched norm operands are NOT rewritten (sqrt over wrong vector)") {
    // denominator uses sqrt(dot(b,b)) twice — not a cosine of (a, b).
    // a and b must be semantically DIFFERENT here (with a == b the
    // rewrite would be legitimate), so b is the reversed vector.
    val wrong = hofCosine.replace(
      "zip_with(a, a, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))",
      "zip_with(b, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))")
    val plan = Tables.load(spark, sf, "embeddings")
      .selectExpr("embedding AS a", "reverse(embedding) AS b")
      .select(expr(wrong).as("c"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("cosine_sim"), s"unsound rewrite:\n$plan")
  }
}
