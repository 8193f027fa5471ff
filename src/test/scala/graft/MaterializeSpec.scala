package graft

import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Materialize]]: one job like a bare local checkpoint, loud bounds,
  * and a leaf whose statistics are the data's, not the input plan's.
  */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def leafOf(df: DataFrame): LogicalRDD =
    df.queryExecution.analyzed.collectLeaves().collect { case l: LogicalRDD => l } match {
      case Seq(l) => l
      case other => fail(s"expected one materialized leaf, got ${other.size}")
    }

  /** Size of the leaf's rows as Spark's in-memory cache stores them. */
  private def cachedBytes(leaf: LogicalRDD): BigInt = {
    val df = GraftSqlShim.ofRows(spark, leaf.newInstance()).cache()
    try { df.count(); df.queryExecution.optimizedPlan.stats.sizeInBytes }
    finally df.unpersist()
  }

  private def assertMeasured(leaf: LogicalRDD, what: String): Unit = {
    val rows = GraftSqlShim.ofRows(spark, leaf.newInstance()).count()
    val st = leaf.stats
    assert(st.rowCount.contains(BigInt(rows)), s"$what: rowCount ${st.rowCount} vs $rows rows")
    val cached = cachedBytes(leaf)
    assert(rows > 0 && st.sizeInBytes <= cached * 2 && cached <= st.sizeInBytes * 2,
      s"$what: sizeInBytes ${st.sizeInBytes} vs cached $cached")
  }

  private def fresh(): DataFrame =
    Tables.orders(spark, sf).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))

  test("Materialize starts as many jobs as a bare localCheckpoint on a fresh plan") {
    fresh().localCheckpoint(); Materialize(fresh(), "warm-up")
    val bare = SparkTestSession.jobsStartedBy(fresh().localCheckpoint())
    val viaMaterialize = SparkTestSession.jobsStartedBy(Materialize(fresh(), "jobs"))
    assert(bare > 0 && viaMaterialize == bare, s"bare=$bare materialize=$viaMaterialize")
  }

  test("an input over its declared bound fails naming the site, the bound and the count") {
    val e = intercept[IllegalStateException] {
      Materialize(spark.range(11).toDF("id"), "test over-bound site", Some(10L))
    }
    assert(e.getMessage.contains("test over-bound site") && e.getMessage.contains("11 rows") &&
      e.getMessage.contains("bound of 10 rows"), e.getMessage)
    // at the bound it passes, and the leaf carries the bound for plan checks
    val ok = Materialize(spark.range(10).toDF("id"), "test at-bound site", Some(10L))
    assert(Materialize.declaredBound(leafOf(ok)).contains(10L))
    assert(Materialize.declaredBound(leafOf(Materialize(ok, "unbounded"))).isEmpty)
  }

  test("a two-round Lloyd table and q69's labels carry exact rowCount and near-cache size") {
    assertMeasured(leafOf(vector.VectorQueries.trainedCentroids(spark, sf, iters = 2)),
      "Lloyd centroids")
    assertMeasured(leafOf(text.DedupQueries.componentLabels(spark, sf)), "q69 labels")
    // the statistics survive the copies the analyzer makes of a leaf
    val leaf = leafOf(text.DedupQueries.componentLabels(spark, sf))
    assert(leaf.newInstance().stats == leaf.stats)
  }
}
