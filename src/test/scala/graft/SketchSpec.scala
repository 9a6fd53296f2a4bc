package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.functions.{KmvSketch, PortableHash}

/** Accuracy bounds for the engine-private sketch tiers (HLL via
  * approx_count_distinct, GK via percentile_approx). Their estimates can't
  * ride the cross-engine hash gate — register layouts are engine-specific —
  * so the portable KMV / hash-sample tiers carry the oracle entries
  * (q30b/q31b) and these tests pin the native sketches' relative error. */
class SketchSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // 20k rows over 5k distinct keys, deterministic
  private lazy val keys = spark.range(20000)
    .select((col("id") * 2654435761L % 5000).as("k"))

  test("approx_count_distinct (HLL tier) within 5% of exact") {
    val row = keys.agg(
      countDistinct(col("k")).as("exact"),
      approx_count_distinct(col("k"), 0.01).as("approx")).head()
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"HLL estimate $approx vs exact $exact")
  }

  test("percentile_approx (GK tier) close to exact percentile") {
    val row = spark.range(100000).select(col("id").cast("double").as("v"))
      .agg(percentile(col("v"), lit(0.5)).as("exact"),
        percentile_approx(col("v"), lit(0.5), lit(10000)).as("approx")).head()
    val exact = row.getDouble(0)
    val approx = row.getDouble(1)
    assert(math.abs(approx - exact) / exact < 0.02,
      s"GK estimate $approx vs exact $exact")
  }

  test("KMV estimator (portable tier) within 15% of exact at k=256") {
    val est = keys
      .agg(KmvSketch.kmvDistinct(
        PortableHash.charFold(col("k").cast(StringType)), 256).as("est"))
      .head().getDouble(0)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.15, s"KMV estimate $est vs 5000")
  }

  test("KMV is exact below k (small-cardinality short-circuit)") {
    val est = spark.range(100).select(col("id").cast(StringType).as("k"))
      .agg(KmvSketch.kmvDistinct(PortableHash.charFold(col("k")), 256).as("est"))
      .head().getDouble(0)
    assert(est == 100.0)
  }
}
