package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions

/** The injected optimizer rule (GraftExtensions → AccelerateVectorOps)
  * rewrites declarative zip_with+aggregate dot products to the native
  * kernel: assert the rewrite happens, produces identical results, and
  * leaves non-matching shapes untouched.
  */
class AccelerateVectorOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("declarative dot over float arrays is rewritten to the dotF kernel") {
    import spark.implicits._
    val df = Tables.embeddings(spark, sf)
      .select(VectorFunctions.dot($"embedding", $"embedding").as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("KernelOps.dotF"), optimized.take(800))
    assert(!optimized.contains("aggregate(zip_with"))
  }

  test("rewritten plan computes the same values as the unoptimized composition") {
    import spark.implicits._
    val viaRule = Tables.embeddings(spark, sf)
      .select($"vec_id", VectorFunctions.dot($"embedding", $"embedding").as("d"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val viaKernel = Tables.embeddings(spark, sf)
      .select($"vec_id", expressions.NativeKernels.dotF($"embedding", $"embedding").as("d"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(viaRule == viaKernel)
  }

  test("degenerate inputs: rewrite preserves HOF NULL semantics (ADVICE r2 medium)") {
    import spark.implicits._
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))),
        |  (array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))),
        |  (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))
        |  AS t(a, b)""".stripMargin)
      // barrier: without it ConvertToLocalRelation folds the projection
      // into the LocalRelation and there is no plan left to inspect
      .repartition(1)
    val viaRule = df.select(VectorFunctions.dot($"a", $"b").as("d"))
    assert(viaRule.queryExecution.optimizedPlan.toString.contains("KernelOps.dotF"))
    // unrewritten executable spec: same composition with the fold flipped
    // (v + acc) — semantically identical, shape-different → rule skips it
    val spec = df.select(expr(
      "aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), CAST(0.0 AS DOUBLE), (acc, v) -> v + acc)").as("d"))
    assert(!spec.queryExecution.optimizedPlan.toString.contains("KernelOps.dotF"))
    def vals(rows: Array[org.apache.spark.sql.Row]): Seq[Any] =
      rows.map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq
    val rv = vals(viaRule.collect())
    assert(rv == vals(spec.collect()))
    assert(rv == Seq(null, null, 11.0)) // pad→NULL, null elem→NULL, clean→dot
  }

  test("non-matching shapes are left alone (double arrays, different zero)") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
    // double arrays: VectorFunctions.dot still works, just unrewritten
    val plain = df.select(VectorFunctions.dot($"a", $"b").as("d"))
    assert(!plain.queryExecution.optimizedPlan.toString.contains("KernelOps.dotF"))
    assert(plain.collect()(0).getDouble(0) == 11.0)
  }
}
