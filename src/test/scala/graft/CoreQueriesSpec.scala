package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  /** Pinned to 4 cores whatever `SPARK_GRAFT_CPUS` says: plan digests and
    * partition-count assertions depend on the shuffle width. */
  lazy val spark: SparkSession = Session.build(cpus = 4)
}

class CoreQueriesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs and returns rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      withClue(name) { assert(df.count() > 0, s"$name returned 0 rows") }
    }
  }

  test("every query key with an oracle exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }

  test("events loader adapts to both generator layouts (nanos-as-long and timestamp)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.unix_micros
    // The legacy TIMESTAMP(NANOS) layout surfaces as LongType under
    // nanosAsLong; current testdata is timestamp[us]. The testdata regen
    // between rounds 8 and 9 switched layouts mid-stream and killed 38
    // queries — keep BOTH branches alive so the next switch is a no-op.
    val root = Scratch.path("events_nanos_fixture")
    Seq((1L, 1704067200123456789L, 7L, "view", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$root/events.parquet")
    val legacy = Tables.events(spark, root)
    assert(legacy.schema("ts").dataType.typeName == "timestamp")
    // ns div 1000 truncation, never double rounding
    assert(legacy.select(unix_micros($"ts")).head.getLong(0) == 1704067200123456L)
    // the live layout reads as a proper timestamp too
    val current = Tables.events(spark, sf)
    assert(current.schema("ts").dataType.typeName == "timestamp")
    assert(current.select(unix_micros($"ts")).head.getLong(0) > 0L)
  }

  test("loaders canonicalize drifted physical dtypes back to the declared schema") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    // a generator that re-emits customer with narrowed/widened physical
    // types (the events.ts precedent, applied to another table)
    val root = Scratch.path("customer_drift_fixture")
    Seq((1, "c1", 2L, 3.5f, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$root/customer.parquet")
    val got = Tables.customer(spark, root)
    assert(got.schema("c_custkey").dataType == LongType)     // int  → bigint
    assert(got.schema("c_nationkey").dataType == IntegerType) // bigint → int
    assert(got.schema("c_acctbal").dataType == DoubleType)   // float → double
    assert(got.count() == 1L)
    // and on the REAL testdata the canonicalizer is the identity: no cast
    // may appear over the scan (pushdown/pruning must stay intact)
    val live = Tables.customer(spark, sf)
    assert(!live.queryExecution.optimizedPlan.toString.toLowerCase.contains("cast("),
      "canon must be a no-op on matching schemas")
  }

  test("q01 groups are exactly the returnflag/linestatus combos present in lineitem") {
    val rows = relational.CoreQueries.q01PricingSummary(spark, sf).collect()
    val got = rows.map(r => (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus"))).toSet
    val expected = Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_shipdate") <=
        org.apache.spark.sql.functions.lit("1998-09-02").cast("timestamp"))
      .select("l_returnflag", "l_linestatus").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expected)
    assert(rows.forall(_.getAs[Long]("count_order") > 0))
    // counts over groups must sum to the filtered row count (partition-safe agg)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total == Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_shipdate") <=
        org.apache.spark.sql.functions.lit("1998-09-02").cast("timestamp")).count())
  }

  test("q07 row_number restarts per customer and is capped at 3") {
    val rows = relational.CoreQueries.q07WindowRownum(spark, sf).collect()
    val byCust = rows.groupBy(_.getAs[Long]("o_custkey"))
    byCust.foreach { case (_, rs) =>
      val rns = rs.map(_.getAs[Long]("rn")).sorted
      assert(rns.head == 1L)
      assert(rns.last <= 3L)
      assert(rns.distinct.length == rns.length)
    }
  }

  test("q04 left join keeps all order statuses; matched <= rows") {
    val rows = relational.CoreQueries.q04LeftJoinCounts(spark, sf).collect()
    assert(rows.map(_.getAs[String]("o_orderstatus")).toSet == Set("P", "O", "F"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_matched") <= r.getAs[Long]("n_rows"))
    }
  }

  test("q06 distinct is idempotent (dedup of dedup = dedup)") {
    val d1 = relational.CoreQueries.q06Distinct(spark, sf)
    assert(d1.count() == d1.dropDuplicates().count())
  }
}
