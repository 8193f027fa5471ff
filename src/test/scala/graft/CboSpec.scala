package graft

import org.apache.spark.sql.catalyst.TableIdentifier
import org.scalatest.funsuite.AnyFunSuite
import graft.relational.AdvancedQueries

/** The cost-based-optimizer tier (q206): proves the statistics actually
  * exist in the catalog and that they actually CHANGE the plan — the two
  * facts the row-level oracle can't see (any join order returns the same
  * answer; that's the point of the oracle, and the blindness of it).
  */
class CboSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def leafOrder(cboOn: Boolean): Seq[String] = {
    val pre = AdvancedQueries.cboPrefix(spark, sf)
    Session.withConf(spark, AdvancedQueries.CboFlags.map(_ -> cboOn.toString): _*) {
      val plan = spark.sql(AdvancedQueries.cboJoinSql(pre)).queryExecution.optimizedPlan
      plan.collectLeaves().flatMap {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.catalogTable.map(_.identifier.table.stripPrefix(s"${pre}_"))
        case _ => None
      }
    }
  }

  test("ANALYZE TABLE leaves rowCount + column stats in the catalog") {
    val pre = AdvancedQueries.cboPrefix(spark, sf)
    Seq("region", "nation", "customer", "orders").foreach { t =>
      val meta = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(s"${pre}_$t"))
      val st = meta.stats.getOrElse(fail(s"$t: no table stats"))
      assert(st.rowCount.isDefined, s"$t: no rowCount")
      assert(st.colStats.nonEmpty, s"$t: no column stats")
      // ndv present on the analyzed join keys — the input the DP
      // reorderer's selectivity estimates actually consume
      assert(st.colStats.exists(_._2.distinctCount.isDefined), s"$t: no ndv")
    }
  }

  test("stats + CBO reorder the worst-order chain join; without them the syntactic order stands") {
    // the SQL joins fact-first by construction (cboJoinSql's doc): that
    // is what the optimizer keeps when it has no costs to work with
    val without = leafOrder(cboOn = false)
    assert(without == Seq("orders", "customer", "nation", "region"),
      s"syntactic order expected without CBO, got: $without")
    val withCbo = leafOrder(cboOn = true)
    assert(withCbo != without, "CBO did not change the join order")
    // the fact table must no longer be the first (deepest) relation —
    // the reorderer builds from the filtered dimensions outward
    assert(withCbo.head != "orders",
      s"fact still joined first under CBO: $withCbo")
  }

  test("equi-height histograms fix the skewed-column selectivity estimate; uniform stats mislead") {
    val pre = AdvancedQueries.histPrefix(spark, sf)
    Session.withConf(spark, "spark.sql.cbo.enabled" -> "true") {
      def estimateOf(table: String): BigInt = {
        val plan = spark.sql(
          s"SELECT * FROM $table WHERE ${AdvancedQueries.HistProbeSql}")
          .queryExecution.optimizedPlan
        plan.stats.rowCount.getOrElse(fail(s"$table: no rowCount estimate under CBO"))
      }
      val actual = BigInt(spark.sql(
        s"SELECT count(*) FROM ${pre}_hist WHERE ${AdvancedQueries.HistProbeSql}")
        .collect()(0).getLong(0))
      val estPlain = estimateOf(s"${pre}_plain")
      val estHist = estimateOf(s"${pre}_hist")
      def err(e: BigInt): Double =
        math.abs(e.toDouble - actual.toDouble) / actual.toDouble
      // the law: the histogram estimate is materially accurate (≤2×) on
      // the skewed column; the uniform min/max interpolation misses it
      // by the ~5× class of error histograms exist to fix
      assert(err(estHist) < err(estPlain),
        s"histogram did not improve the estimate: plain=$estPlain hist=$estHist actual=$actual")
      assert(estHist.toDouble <= actual.toDouble * 2 &&
        estHist.toDouble >= actual.toDouble / 2,
        s"histogram estimate off >2x: $estHist vs $actual")
      assert(err(estPlain) > 0.5,
        s"uniform estimate unexpectedly accurate ($estPlain vs $actual) — the demo column lost its skew")
    }
  }

  test("q206 executes under the reordered plan and leaves every CBO flag restored") {
    val flags = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    val before = flags.map(spark.conf.getOption)
    val rows = AdvancedQueries.q206CboJoinReorder(spark, sf).collect()
    assert(rows.length == 1 && rows(0).getString(0) == "ASIA")
    assert(rows(0).getAs[Long]("n_orders") > 0)
    assert(flags.map(spark.conf.getOption) == before, "CBO flags leaked")
  }

  // ---- connector stats → CBO composition (round 14) ---------------------

  private def gfwbRelStats(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats
    }.getOrElse(fail("no V2 scan relation in the plan"))

  test("GFWB scan reports manifest-exact rows, real bytes, and footer-dictionary ndv") {
    val path = sources.FwbFormat.writeFixture(spark, sf)
    val manifest = sources.FwbFormat.readManifest(path)
    val full = gfwbRelStats(spark.read.format("graft-fwb").load(path))
    // rowCount = Σ footer n; sizeInBytes = real listing bytes, NOT the
    // 8 EiB DSv2 default that makes every GFWB join a sort-merge
    assert(full.rowCount.contains(BigInt(manifest.values.map(_.n).sum)))
    val realBytes = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".gfwb")).map(_.length()).sum
    assert(full.sizeInBytes == BigInt(realBytes),
      s"sizeInBytes ${full.sizeInBytes} != listed $realBytes")
    // the composition input (VERDICT r12 #8): o_orderpriority ndv from
    // the union of footer dictionaries, visible to the optimizer
    val prio = full.attributeStats.find(_._1.name == "o_orderpriority")
      .getOrElse(fail("no attribute stats for o_orderpriority"))._2
    val wantNdv = manifest.values.flatMap(_.dict).toSet.size
    assert(prio.distinctCount.contains(BigInt(wantNdv)),
      s"ndv ${prio.distinctCount} != dict union $wantNdv")
    assert(prio.nullCount.contains(BigInt(0)))
    // o_orderkey min/max from the kept ranges
    val key = full.attributeStats.find(_._1.name == "o_orderkey").get._2
    assert(key.min.contains(manifest.values.map(_.minKey).min))
    assert(key.max.contains(manifest.values.map(_.maxKey).max))
  }

  test("pushed key-range shrinks the reported stats to the kept files") {
    import org.apache.spark.sql.functions.col
    val path = sources.FwbFormat.writeFixture(spark, sf)
    val manifest = sources.FwbFormat.readManifest(path)
    val full = gfwbRelStats(spark.read.format("graft-fwb").load(path))
    val probe = manifest.values.map(_.minKey).min // lands in exactly 1 file
    val pruned = gfwbRelStats(spark.read.format("graft-fwb").load(path)
      .filter(col("o_orderkey") <= probe))
    assert(pruned.sizeInBytes < full.sizeInBytes,
      "pruned scan must report the kept files' bytes, not the table's")
    val oneFileRows = manifest.values.filter(_.minKey <= probe).map(_.n).sum
    assert(pruned.rowCount.contains(BigInt(oneFileRows)))
  }

  test("connector stats drive the DP reorder: the GFWB fact is no longer joined first") {
    val pre = AdvancedQueries.cboPrefix(spark, sf)
    val path = sources.FwbFormat.writeFixture(spark, sf)
    val view = s"gfwb_cbospec_${Scratch.tag(sf)}"
    spark.read.format("graft-fwb").load(path).createOrReplaceTempView(view)
    def leaves(cboOn: Boolean): Seq[String] =
      Session.withConf(spark, AdvancedQueries.CboFlags.map(_ -> cboOn.toString): _*) {
        spark.sql(etl.EtlQueries.connectorCboSql(view, pre))
          .queryExecution.optimizedPlan.collectLeaves().flatMap {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.catalogTable.map(_.identifier.table.stripPrefix(s"${pre}_"))
            case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
              Some("gfwb")
            case _ => None
          }
      }
    val without = leaves(cboOn = false)
    assert(without.head == "gfwb", s"syntactic order should join the fact first: $without")
    val withCbo = leaves(cboOn = true)
    assert(withCbo != without, "connector stats did not change the join order")
    assert(withCbo.head != "gfwb",
      s"fact still joined first — connector stats not feeding the reorderer: $withCbo")
    // and the registered query answers correctly with flags restored
    val rows = etl.EtlQueries.q217ConnectorCbo(spark, sf).collect()
    assert(rows.length == 1 && rows(0).getString(0) == "ASIA")
  }

  test("real sizeInBytes makes a small GFWB read the broadcast build side") {
    import org.apache.spark.sql.functions.col
    val path = sources.FwbFormat.writeFixture(spark, sf)
    val manifest = sources.FwbFormat.readManifest(path)
    val probe = manifest.values.map(_.minKey).min + 10
    val g = spark.read.format("graft-fwb").load(path)
      .filter(col("o_orderkey") <= probe) // 1 file — a few KB
    val li = Tables.lineitem(spark, sf)
      .withColumnRenamed("l_orderkey", "o_orderkey") // the bigger side
    val plan = g.join(li, "o_orderkey").queryExecution.sparkPlan
    val bhj = plan.collectFirst {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.getOrElse(fail("expected a broadcast hash join; DSv2 default sizing " +
      "(8 EiB) would have forced sort-merge"))
    val buildSide = bhj.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.left
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => bhj.right
    }
    assert(buildSide.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.isDefined, "the GFWB side must be the broadcast build side")
  }
}
