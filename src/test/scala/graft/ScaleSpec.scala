package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Salting

/** Physical-layout and skew behaviors that only matter at cluster scale,
  * proven at test scale through the plan and file-level evidence:
  * bucketed co-located joins (no exchange), partition pruning (fewer files
  * read), salting equivalences (skew rewrites are result-identical).
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("bucketed tables co-locate the join: sort-merge join with no shuffle exchange") {
    import spark.implicits._
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      // a fresh JVM's in-memory catalog forgets the tables but the
      // warehouse files survive — clear them or saveAsTable refuses
      Seq("b_orders", "b_lineitem").foreach { t =>
        val p = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), t)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      Tables.orders(spark, sf)
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
      Tables.lineitem(spark, sf)
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
      val j = spark.table("b_orders")
        .join(spark.table("b_lineitem"), $"o_orderkey" === $"l_orderkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      // same rows as the plain join
      val plain = Tables.orders(spark, sf)
        .join(Tables.lineitem(spark, sf), $"o_orderkey" === $"l_orderkey")
      assert(j.count() == plain.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("hive-partitioned layout prunes: a year filter reads only that year's files") {
    import spark.implicits._
    val out = Scratch.path("prune_orders")
    Tables.orders(spark, sf)
      .withColumn("o_year", year($"o_orderdate"))
      .write.mode("overwrite").partitionBy("o_year").parquet(out)
    val all = spark.read.parquet(out)
    val pruned = all.filter($"o_year" === 1995)
    val allFiles = all.inputFiles.length
    val prunedFiles = pruned.queryExecution.executedPlan.collectLeaves()
      .head.asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
      .selectedPartitions.totalNumberOfFiles.toInt
    assert(prunedFiles < allFiles, s"pruned=$prunedFiles all=$allFiles")
    assert(pruned.count() ==
      Tables.orders(spark, sf).filter(year($"o_orderdate") === 1995).count())
  }

  test("runtime bloom filter: a selective dim filter injects might_contain on the fact scan") {
    import spark.implicits._
    val prev = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // test-scale data is far below the production 10GB application-side
      // threshold — drop it to observe the injection
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // shuffle join, where the filter pays off
      val li = Tables.lineitem(spark, sf)
      val sel = Tables.orders(spark, sf).filter($"o_totalprice" > 400000)
      val j = li.join(sel, $"l_orderkey" === $"o_orderkey").groupBy($"o_orderstatus").count()
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"runtime bloom filter not injected:\n${opt.take(2000)}")
      // and the filtered join still returns the right rows
      val expected = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf).filter($"o_totalprice" > 400000),
          $"l_orderkey" === $"o_orderkey").count()
      assert(j.agg(org.apache.spark.sql.functions.sum($"count")).collect()(0).getLong(0) == expected)
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("salting rewrites are result-identical on skewed data (90% hot key)") {
    import spark.implicits._
    val skewed = (1 to 9000).map(i => ("hot", i % 500)) ++
      (1 to 1000).map(i => (s"k${i % 50}", i))
    val df = skewed.toDF("key", "value")

    val d1 = Salting.skewResistantDistinctCount(df, "key", "value")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val d2 = df.groupBy($"key").agg(countDistinct($"value")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(d1 == d2)

    // NULL handling must match count(DISTINCT x) in every direction
    // (ADVICE r2 + review): null VALUES don't count ("hot"/"k1" rows),
    // an all-null-value key ("knull") still appears with 0, and a NULL KEY
    // groups like any other key — compared against the UNFILTERED
    // reference aggregation.
    val withNulls = (skewed.map { case (k, v) => (Some(k), Some(v)) } ++
      Seq((Some("hot"), None), (Some("hot"), None), (Some("k1"), None),
        (Some("knull"), None), (None, Some(7)), (None, Some(8)), (None, None)))
      .toDF("key", "value")
    val n1 = Salting.skewResistantDistinctCount(withNulls, "key", "value")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toMap
    val n2 = withNulls
      .groupBy($"key").agg(countDistinct($"value")).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1))).toMap
    assert(n1 == n2)
    assert(n1(Some("knull")) == 0L)
    assert(n1(None) == 2L) // NULL key groups; its null value doesn't count
    assert((n1 - Some("knull") - None).map { case (k, v) => (k.get, v) } == d1)

    val s1 = Salting.saltedSum(df, "key", col("value"), 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val s2 = df.groupBy($"key").agg(sum($"value").as("total"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(s1 == s2)

    val dim = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("key", "tag")
    val j1 = Salting.saltedJoin(df, dim, "key", 8)
      .groupBy($"tag").count().collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val j2 = df.join(dim, "key")
      .groupBy($"tag").count().collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(j1 == j2)
  }

  test("q20's banded self-join reuses one exchange: signatures computed once") {
    // the claim in SCALING.md — verify in the FINAL plan (AQE rewrites
    // exchange reuse at runtime, so the pre-execution plan can't show it)
    val df = text.DedupQueries.q20DedupMinhash(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"banded self-join must reuse the signature exchange:\n${plan.take(1500)}")
  }

  test("candidate-generation plans have no all-pairs term (q54 IVF, q63 decontamination)") {
    // the scale claim of the ANN/decontamination tier is structural: the
    // only join touching the corpus is an equi-join (hash/sort-merge) on
    // cell/gram — never a cartesian over corpus × corpus. The one intended
    // nested-loop is the 8-row-centroid broadcast cross in q54's assign.
    val q54 = vector.VectorQueries.q54IvfSearch(spark, sf).queryExecution.executedPlan.toString
    assert(!q54.contains("CartesianProduct"), q54.take(500))
    // every BroadcastNestedLoopJoin in q54 must build the 8-centroid side
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(q54).length
    assert(bnlj <= 2, s"unexpected nested-loop joins: $bnlj")
    assert(q54.contains("BroadcastHashJoin"), "cell-candidate join must be an equi-join")

    val q63 = text.PipelineQueries.q63Decontamination(spark, sf).queryExecution.executedPlan.toString
    assert(!q63.contains("CartesianProduct") && !q63.contains("BroadcastNestedLoopJoin"),
      q63.take(500))
  }

  test("probe/eval broadcast sides are structurally bounded, independent of corpus size") {
    // the contract behind q18/q54, q28 and q63's broadcasts: the selected
    // probe/eval set saturates at a constant, so a 10× larger corpus
    // selects the SAME rows — the broadcast cannot grow with input
    // (VERDICT r5/r6 scale-killers #1–#3)
    import org.apache.spark.sql.Column
    def matches(n: Long, pred: Column => Column): Long =
      spark.range(n).filter(pred(col("id"))).count()
    val preds: Seq[(String, Column => Column, Long)] = Seq(
      ("q18/q54 knn probes", vector.VectorQueries.probePredicate _,
        vector.VectorQueries.MaxProbes.toLong),
      ("q28 gram probes", text.DedupQueries.probePredicate _,
        text.DedupQueries.MaxGramProbes.toLong),
      ("q63 eval docs", text.PipelineQueries.evalPredicate _,
        text.PipelineQueries.MaxEvalDocs.toLong))
    for ((name, p, bound) <- preds) {
      val atM = matches(1000000L, p)
      val at10M = matches(10000000L, p)
      assert(atM > 0, s"$name: empty probe set")
      assert(atM <= bound, s"$name: $atM rows exceeds declared bound $bound")
      assert(atM == at10M, s"$name grows with input: $atM @1e6 vs $at10M @1e7")
    }
  }

  test("q188/q190 encoder vocab broadcast is budget-capped at every corpus size") {
    // the rank filter, not the min-count threshold, is the structural
    // bound: a 100× corpus grows the post-threshold vocab but the id
    // budget admits the same number of rows
    val cap = text.PipelineQueries.EncoderVocabSize
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val n = text.PipelineQueries.encoderVocab(spark, d).count()
      assert(n > 0 && n <= cap, s"$d: vocab $n outside (0, $cap]")
    }
  }

  test("q03 carries no broadcast hint at all — join sizing is the planner's call") {
    // VERDICT r7 finding #1 removed the fact-derived hint; round 10 removed
    // the customer-segment hint too: a market segment is a FIXED FRACTION
    // of customers, so even that side grows with the corpus — the planner
    // broadcasts it from stats at small scale and AQE degrades it to a
    // shuffle join past the threshold, which an unconditional hint cannot.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val analyzed = relational.CoreQueries.q03JoinAggTopk(spark, sf).queryExecution.analyzed
    val hints = analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"expected no broadcast hints in q03, got ${hints.size}")
    // and at test scale the planner still picks a broadcast join whose
    // BUILD SIDE scans customer — "some BHJ exists" is not enough, the
    // outer lineitem join can also be a BHJ at this sf (review r10)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val plan = relational.CoreQueries.q03JoinAggTopk(spark, sf)
      .queryExecution.executedPlan
    val custBroadcast = PlanWalk.allNodes(plan)
      .collect { case b: BroadcastHashJoinExec => b }
      .exists { b =>
        val build = b.buildSide match {
          case BuildLeft => b.left
          case BuildRight => b.right
        }
        PlanWalk.allNodes(build).exists {
          case s: FileSourceScanExec =>
            s.relation.location.rootPaths.mkString(",").contains("customer.parquet")
          case _ => false
        }
      }
    assert(custBroadcast,
      s"planner should still broadcast-build the filtered customer segment at test scale:\n$plan")
  }

  test("AQE skew join: a hot key makes OptimizeSkewedJoin split the partition (skew=true)") {
    import spark.implicits._
    // salting (q52/q109) is the MANUAL skew rewrite; this pins the AUTOMATIC
    // one so a regression in session confs can't silently disable it at
    // 100 TB. Thresholds shrink so test-scale data crosses the skew bar.
    val keep = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val hot = spark.range(50000).select(
        when($"id" % 10 === 0, $"id").otherwise(lit(7L)).as("k"),
        $"id".as("payload"))
      val dim = spark.range(200).select($"id".as("k"), ($"id" * 2).as("attr"))
      val joined = hot.join(dim, "k")
      // collect() executes THIS queryExecution through AdaptiveSparkPlanExec
      // (.rdd/.foreach bypass AQE; a write/count plans a fresh execution)
      assert(joined.collect().length > 40000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected a skew-split join:\n$plan")
    } finally keep.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("q144/q146 example generation shuffles once: a single hash exchange on user_id") {
    // the scaladoc claim made structural: features/sessions come from ONE
    // shuffle; the only other exchange is the final oracle-determinism sort
    // (rangepartitioning), which production variants drop
    for ((name, df) <- Seq(
      "q144" -> relational.EventQueries.q144FeatureBackfill(spark, sf),
      "q146" -> relational.EventQueries.q146SessionSequences(spark, sf))) {
      val plan = df.queryExecution.executedPlan.toString
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(hashExchanges == 1, s"$name expected exactly 1 hash exchange:\n$plan")
    }
  }

  test("q131 approx_percentile lands inside the exact rank band (n/accuracy guarantee)") {
    import spark.implicits._
    val acc = relational.AdvancedQueries.ApproxQuantileAccuracy
    val approx = relational.AdvancedQueries.q131ApproxQuantilesRaw(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    assert(approx.nonEmpty)
    // exact sorted values per group, computed independently driver-side
    val vals = Tables.lineitem(spark, sf)
      .select($"l_returnflag", $"l_quantity").as[(String, Double)].collect()
      .toSeq.groupBy(_._1).map { case (k, kv) => k -> kv.map(_._2).sorted }
    assert(approx.keySet == vals.keySet)
    for ((flag, (m, p90, n)) <- approx) {
      val sorted = vals(flag)
      assert(n == sorted.size)
      // the sketch guarantees a value whose RANK is within n/accuracy of
      // the target rank; translate that to the admissible value band
      val err = math.ceil(sorted.size.toDouble / acc).toInt + 1
      def band(p: Double): (Double, Double) = {
        val target = math.ceil(p * sorted.size).toInt - 1
        (sorted(math.max(0, target - err)),
          sorted(math.min(sorted.size - 1, target + err)))
      }
      val (mLo, mHi) = band(0.5)
      assert(m >= mLo && m <= mHi, s"$flag median $m outside [$mLo, $mHi]")
      val (pLo, pHi) = band(0.9)
      assert(p90 >= pLo && p90 <= pHi, s"$flag p90 $p90 outside [$pLo, $pHi]")
    }
  }

  test("q37 approx_count_distinct stays within 5% of exact (2% rsd configured)") {
    val rows = relational.AdvancedQueries.q37ApproxDistinctRaw(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // same constant AND same comparison as the registered verdict —
      // a boundary value must not make CI and the adjudication gate
      // disagree (review r10)
      assert(r.getAs[Double]("rel_err") <=
        relational.AdvancedQueries.ApproxDistinctMaxRelErr, s"row $r")
    }
    // and the registered verdict form agrees with the raw diagnostic
    val reg = relational.AdvancedQueries.q37ApproxDistinct(spark, sf).collect()
    assert(reg.forall(_.getAs[Boolean]("within_bound")))
  }

  test("q98 joins aggregates, never enumerates pairs (counts-product plan)") {
    // VERDICT r14 wrong #1: the key domain is a constant 7 values, so a
    // join that enumerates matching (customer, supplier) pairs grows as
    // |C|·|S| — quadratic in data size. The rewrite aggregates each side
    // FIRST; pin the shape: every join in the plan must have an
    // aggregate on BOTH input subtrees, so the join touches ≤8-row
    // relations at any corpus size and the answer still hash-matches the
    // pair-counting oracle.
    val df = relational.AdvancedQueries.q98NullSafeJoin(spark, sf)
    df.collect()
    val nodes = PlanWalk.allNodes(df.queryExecution.executedPlan)
    val joins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty, "q98 must still exercise the <=> join surface")
    def hasAgg(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      PlanWalk.allNodes(p).exists {
        case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
        case _ => false
      }
    joins.foreach { j =>
      assert(hasAgg(j.left) && hasAgg(j.right),
        s"q98 join enumerates raw pairs on one side:\n$j")
    }
  }

  test("q228 bloom decontamination ≡ q63 row-for-row; the probe is codegen'd into the corpus side") {
    // the law that makes the bloom SAFE: false positives only add verify
    // work, so the exact-verify join restores q63's answer exactly
    val exact = text.PipelineQueries.q63Decontamination(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val bloomed = text.PipelineQueries.q228BloomDecontamination(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(exact.nonEmpty && bloomed == exact,
      s"bloom plan diverged from exact: ${bloomed.diff(exact).take(3)}")
    // plan pin: the bloomMightContain probe runs BELOW the verify join
    // (map-side pre-filter), and the broadcast membership side is the
    // 1-row bloom aggregate, not a gram relation
    val plan = text.PipelineQueries.q228BloomDecontamination(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("KernelOps.bloomMightContain"),
      s"bloom probe missing from the physical plan:\n${plan.take(800)}")
  }

  // Structural bounded-ness evidence for a relation the plan broadcasts:
  //   - an Aggregate (every hinted aggregate in-repo groups on a bounded
  //     domain: returnflag/lang/source/event_type/year/bin — a global or
  //     small-domain rollup, never per-user/per-doc);
  //   - a Limit;
  //   - the audited id-cap filter shape `x % m = r AND x < cap` (the
  //     saturation-tested probe predicates — input-size independent);
  //   - or only bounded leaves: Range/LocalRelation/OneRowRelation,
  //     dimension-class scans, a Materialize leaf that declares its row
  //     bound (enforced when it runs), never a fact table or a
  //     corpus-sized artifact (cells / codes / bands / shingles / fps).
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit,
    LocalLimit, LocalRelation, LogicalPlan, OneRowRelation, Range => RangeRelation, ResolvedHint}
  private val factNames = Set("lineitem", "orders", "events", "documents", "embeddings")
  private val factArtifacts = Seq("/cells", "/codes", "/bands", "/shingles", "/fps")
  private val modPat = """% \d+\)? ?= \d+""".r
  private val capPat = """< \d+""".r
  private def leavesBounded(p: LogicalPlan): Boolean = p.collectLeaves().forall {
    case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        val path = h.location.rootPaths.mkString(",")
        !factNames.exists(t => path.contains(s"/$t.parquet")) &&
          !factArtifacts.exists(a => path.contains(a))
      case _ => true
    }
    case _: RangeRelation | _: LocalRelation | _: OneRowRelation => true
    case l: org.apache.spark.sql.execution.LogicalRDD => Materialize.declaredBound(l).isDefined
    case _ => false
  }
  private def boundedEvidence(p: LogicalPlan): Boolean =
    leavesBounded(p) ||
      p.exists { case _: Aggregate => true; case _ => false } ||
      p.exists { case _: GlobalLimit | _: LocalLimit => true; case _ => false } ||
      {
        // the id-cap shape may sit directly in a Filter condition or be
        // aliased in a Project that a Filter then references (q63's
        // __eval flag) — match it anywhere in the subtree, but require
        // an actual Filter node so an unapplied predicate can't pass;
        // literals render cast-wrapped ("% cast(50 as bigint)"), strip
        // the wrappers first
        val s = p.toString.replaceAll("(?i)CAST\\((\\d+) AS \\w+\\)", "$1")
        p.exists { case _: Filter => true; case _ => false } &&
          modPat.findFirstIn(s).isDefined && capPat.findFirstIn(s).isDefined
      }

  test("registry-wide plan hygiene: no cartesian product anywhere; BNLJ only on the audited bounded-anchor list") {
    // The r9 manual sweep of all 174 plans found 0 CartesianProduct and 16
    // BroadcastNestedLoopJoins, every one a broadcast of a bounded anchor
    // (1-row aggregates, ≤k-row centroid/LUT relations, id-bounded probe
    // sets). Pin both facts so a refactor that degrades a join to a true
    // cartesian — or sneaks a fact-sized BNLJ into a new query — fails
    // here instead of at 100 TB. Each build side is judged from its
    // logical plan, by the broadcast-hint rule below.
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // q27 is the declared quadratic: its brute-force top-pairs baseline
    // broadcasts the whole corpus on purpose (ScaleUp skips it). The
    // exception must stay needed — the set is compared, not subtracted.
    val declaredQuadratic = Set("q27_cosine_top_pairs")
    var bnljs = 0
    val unbounded = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan
      assert(!plan.toString.contains("CartesianProduct"), s"$name plans a cartesian product")
      PlanWalk.allNodes(plan).collect { case j: BroadcastNestedLoopJoinExec => j }.flatMap { j =>
        bnljs += 1
        val build = j.buildSide match {
          case BuildLeft => j.left
          case BuildRight => j.right
        }
        val logical = PlanWalk.allNodes(build).iterator.flatMap(_.logicalLink).nextOption()
          .getOrElse(fail(s"$name: BNLJ build side has no logical link:\n$build"))
        if (boundedEvidence(logical)) None else Some(name -> logical)
      }
    }
    assert(unbounded.map(_._1).toSet == declaredQuadratic,
      "BroadcastNestedLoopJoin build sides without bounded-ness evidence:\n" +
        unbounded.map { case (n, l) => s"$n:\n$l" }.mkString("\n"))
    assert(bnljs >= 20, s"expected the registry's ~30 nested-loop joins, saw $bnljs")
  }

  test("registry-wide plan hygiene: every explicit broadcast() hint builds from a bounded relation") {
    // VERDICT r9 next #7: a planner-chosen broadcast is size-policed (AQE
    // degrades it to a shuffle join when the side outgrows the threshold),
    // but an explicit broadcast() hint is UNCONDITIONAL — a fact-derived
    // hint OOMs executors at 100 TB. Walk every registry query's analyzed
    // plan, collect the hinted build subtrees, and require structural
    // bounded-ness evidence on each (boundedEvidence above). A future
    // broadcast() of a fact-derived frame has none of it and fails here,
    // like cartesians do above.
    var hinted = 0
    SparkEntry.queries.foreach { case (name, fn) =>
      val hints = fn(spark, sf).queryExecution.analyzed.collect {
        case r: ResolvedHint if r.hints.strategy.isDefined => r
      }
      hinted += hints.size
      hints.foreach { h =>
        assert(boundedEvidence(h.child),
          s"$name hints a broadcast whose build side shows no bounded-ness " +
            s"evidence (no bounded-domain aggregate, limit, id-cap filter, " +
            s"or bounded-leaf-only subtree):\n${h.child}")
      }
    }
    // the registry is KNOWN to hint broadcasts — a zero count means the
    // collection stopped seeing them (plan representation drift), not that
    // the engine stopped hinting
    assert(hinted >= 20, s"expected the registry's ~40 broadcast hints, saw $hinted")
  }
}
