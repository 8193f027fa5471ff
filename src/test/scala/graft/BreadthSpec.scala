package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 breadth operators: PII scrubbing, unpivot, grouping sets,
  * VARIANT extraction, statistical aggregates, JSON sink roundtrip.
  * Each test asserts an algebraic invariant that would survive a data
  * refresh (never golden values from one generator seed).
  */
class BreadthSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("PII kernels: digit runs >=4 masked, short runs kept, emails redacted") {
    import spark.implicits._
    import graft.functions.TextFunctions.{maskIdDigits, scrubEmails}
    val got = Seq(
      "acct 12345678 and ref 123",
      "reach me at a.b+c@ex-ample.org or x@y.io",
      "no pii here")
      .toDF("t")
      .select(maskIdDigits($"t").as("m"), scrubEmails($"t").as("s"))
      .collect()
    assert(got(0).getString(0) == "acct [ID] and ref 123")
    assert(got(1).getString(1) == "reach me at [EMAIL] or [EMAIL]")
    assert(got(2).getString(0) == "no pii here" && got(2).getString(1) == "no pii here")
  }

  test("q70 masks every long digit run it reports") {
    val rows = text.TextQueries.q70PiiScrub(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.getAs[String]("masked_name").matches(".*[0-9]{4,}.*"))
      assert(r.getAs[String]("scrubbed_contact") == "[EMAIL]")
      assert(r.getAs[Long]("n_digits") > 0) // c_name carries an id run
    }
  }

  test("q71 unpivot conserves cells and pivots back to the wide table") {
    import spark.implicits._
    val wide = Tables.part(spark, sf)
      .filter($"p_partkey" % 25 === 0)
      .select($"p_partkey", $"p_size".cast("double").as("p_size"), $"p_retailprice")
    val long = relational.AdvancedQueries.q71Unpivot(spark, sf)
    assert(long.count() == 2 * wide.count())
    val back = long.groupBy($"p_partkey").pivot("metric", Seq("p_size", "p_retailprice"))
      .agg(first($"value"))
    assert(back.except(wide).isEmpty && wide.except(back).isEmpty)
  }

  test("q72 grouping sets: gid levels partition the total") {
    import spark.implicits._
    val rows = relational.AdvancedQueries.q72GroupingSets(spark, sf).collect()
    val gids = rows.map(_.getAs[Long]("gid")).toSet
    assert(gids == Set(0L, 1L, 3L))
    val total = Tables.orders(spark, sf).count()
    // each grouping level independently sums to the table count
    Seq(0L, 1L, 3L).foreach { g =>
      assert(rows.filter(_.getAs[Long]("gid") == g).map(_.getAs[Long]("n")).sum == total)
    }
    assert(rows.count(_.getAs[Long]("gid") == 3L) == 1) // one grand-total row
  }

  test("q73 variant extraction agrees with q11's string-path extraction") {
    val v = relational.EventQueries.q73VariantExtract(spark, sf)
      .select("event_type", "n", "sum_k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val j = relational.EventQueries.q11EventsJson(spark, sf)
      .select("event_type", "n", "sum_k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(v == j)
    val missing = relational.EventQueries.q73VariantExtract(spark, sf)
      .agg(sum("n_missing_present")).collect()(0).getLong(0)
    assert(missing == 0L) // try_variant_get on an absent path is null, never an error
  }

  test("q74 moments: corr bounded, var_pop matches the direct two-pass form") {
    import spark.implicits._
    val rows = relational.AdvancedQueries.q74StatsAgg(spark, sf).collect()
    rows.foreach { r =>
      val c = r.getAs[Double]("qty_price_corr")
      assert(c >= -1.0 && c <= 1.0)
      assert(r.getAs[Double]("qty_var_pop") >= 0.0)
    }
    // direct E[x^2] - E[x]^2 on integral quantities (exact in double here)
    val direct = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg((avg($"l_quantity" * $"l_quantity") - avg($"l_quantity") * avg($"l_quantity"))
        .as("v"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("v")).toMap
    rows.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      assert(math.abs(r.getAs[Double]("qty_var_pop") - direct(flag)) < 1e-4)
    }
  }

  test("q46 JSON roundtrip conserves the order count") {
    val n = etl.EtlQueries.q46JsonRoundtrip(spark, sf)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(n == Tables.orders(spark, sf).count())
  }

  test("q97 range-clustered layout: 8 range-partitioned files, filter pushed on re-read") {
    import spark.implicits._
    assert(graft.etl.EtlQueries.q97RangeClusteredWrite(spark, sf).count() > 0)
    val out = Scratch.path(s"range_clustered_${Scratch.tag(sf)}")
    val files = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length == 8, s"want 8 range partitions, got ${files.length}")
    val rd = spark.read.parquet(out)
      .filter($"o_orderdate" >= lit("1997-01-01") && $"o_orderdate" < lit("1997-07-01"))
    val scan = rd.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"range filter must reach the parquet scan:\n$scan")
  }

  test("observe(): named metrics are collected during execution, no extra pass") {
    import spark.implicits._
    val df = Tables.lineitem(spark, sf)
      .observe("li_metrics", count(lit(1)).as("n_rows"), sum($"l_quantity").as("qty"))
      .filter($"l_quantity" > 25)
    // the action must run THIS queryExecution (count() would plan a new one)
    val kept = df.collect().length
    val m = df.queryExecution.observedMetrics("li_metrics")
    val total = m.getAs[Long]("n_rows")
    assert(total > kept && kept > 0) // metric saw pre-filter rows in the same pass
    assert(m.getAs[Double]("qty") > 0)
  }

  test("q143 rules discriminate (both keep classes present) and keep = AND of flags") {
    import spark.implicits._
    val df = graft.text.TextQueries.q143QualityRules(spark, sf).cache()
    assert(df.filter($"keep" === 1).count() > 0)
    assert(df.filter($"keep" === 0).count() > 0)
    val inconsistent = df.filter(
      $"keep" =!= ($"r_len" === 1 && $"r_word_len" === 1 && $"r_alpha" === 1 &&
        $"r_symbols" === 1 && $"r_stopwords" === 1).cast("long")).count()
    assert(inconsistent == 0)
  }

  test("q144 is leakage-free by construction: per user, n_prior is exactly 0..n-1") {
    import spark.implicits._
    // NOT cached: a lingering InMemoryRelation would swallow the plan that
    // ScaleSpec's exchange-count test inspects for the same query
    val df = graft.relational.EventQueries.q144FeatureBackfill(spark, sf)
    // every user's examples carry prior-counts forming a dense 0..n-1 ramp —
    // each example saw exactly the events before it, never itself or later
    val bad = df.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), min($"n_prior").as("lo"),
        max($"n_prior").as("hi"), countDistinct($"n_prior").as("d"))
      .filter($"lo" =!= 0 || $"hi" =!= $"n" - 1 || $"d" =!= $"n")
      .count()
    assert(bad == 0)
    // the first example of every user has seen nothing
    assert(df.filter($"n_prior" === 0 &&
      ($"sum_prior_value" =!= 0.0 || $"secs_since_prev" =!= -1L)).count() == 0)
  }

  test("q145 accounting ties to q69: dropped-per-run equals sum of (n_members - 1)") {
    import spark.implicits._
    val applied = graft.text.DedupQueries.q145DedupApply(spark, sf)
      .agg(sum($"n_dropped"), sum($"n_before"), sum($"n_after")).head()
    val clusters = graft.text.DedupQueries.q69DedupClusters(spark, sf)
      .agg(sum($"n_dropped")).head()
    assert(applied.getLong(0) == clusters.getLong(0))
    assert(applied.getLong(1) == applied.getLong(2) + applied.getLong(0))
  }

  test("q146 sessions agree with q24's session_window count; prefix has n_events-1 types") {
    import spark.implicits._
    val seqs = graft.relational.EventQueries.q146SessionSequences(spark, sf) // not cached, see q144 note
    val viaSessionWindow = graft.relational.EventQueries.q24Sessionization(spark, sf).count()
    assert(seqs.count() == viaSessionWindow) // gaps-and-islands ≡ session_window
    val badPrefix = seqs.filter(
      when($"n_events" === 1, $"prefix" =!= "")
        .otherwise(size(split($"prefix", ">", -1)) =!= $"n_events" - 1)).count()
    assert(badPrefix == 0)
    assert(seqs.filter($"label" === "" || $"label".isNull).count() == 0)
  }

  test("q177 recursive walk agrees with the closed form: depth = digits-1, root = leading digit") {
    // parent(k) = k div 10 means the recursion must land every customer at
    // depth len(str(k))-1 with root = first digit — a total, non-recursive
    // cross-check of the UnionLoop execution (every node, not just counts)
    import spark.implicits._
    val got = relational.AdvancedQueries.q177RecursiveCte(spark, sf)
    val want = Tables.customer(spark, sf)
      .select($"c_custkey".cast("string").as("ks"), $"c_custkey")
      .groupBy((length($"ks") - 1).cast("long").as("depth"))
      .agg(count(lit(1)).as("n_customers"),
        sum(substring($"ks", 1, 1).cast("long")).as("root_key_sum"),
        sum($"c_custkey").as("node_key_sum"))
    assert(got.select("depth", "n_customers", "root_key_sum", "node_key_sum")
      .except(want).isEmpty && want.except(got).isEmpty)
  }

  test("q183 SQL functions inline: results match the DataFrame-expression recomputation") {
    import spark.implicits._
    val got = relational.AdvancedQueries.q183SqlUdf(spark, sf)
    val want = Tables.lineitem(spark, sf)
      .groupBy(year($"l_shipdate").as("ship_year"))
      .agg(count(lit(1)).as("n_items"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax")), 2)
          .as("net_revenue"),
        round(sum($"l_extendedprice" -
          $"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + lit(0))), 2)
          .as("discount_given"))
    assert(got.count() > 0)
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // the SQL functions resolve to inlined expressions — no UDF node, and
    // the aggregate stays inside whole-stage codegen
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("q184/q185 agree with their DataFrame recomputations; lateral-TF ORDER/LIMIT caveat pinned") {
    import spark.implicits._
    val got184 = relational.AdvancedQueries.q184SqlTableFn(spark, sf)
    val want184 = Tables.customer(spark, sf)
      .filter($"c_custkey" % 50 === 0)
      .join(Tables.orders(spark, sf).filter($"o_totalprice" > 150000),
        $"c_custkey" === $"o_custkey")
      .groupBy($"c_custkey")
      .agg(count(lit(1)).as("n_big"),
        round(max(round($"o_totalprice", 2)), 2).as("max_price"),
        min($"o_orderkey").as("min_orderkey"))
    assert(got184.count() > 0)
    assert(got184.except(want184).isEmpty && want184.except(got184).isEmpty)

    val got185 = relational.AdvancedQueries.q185PipeSyntax(spark, sf)
    val want185 = Tables.lineitem(spark, sf).filter($"l_quantity" > 10)
      .groupBy($"l_returnflag".as("flag"), $"l_linestatus".as("status"))
      .agg(count(lit(1)).as("n_items"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"))
    assert(got185.count() > 0)
    assert(got185.select("flag", "status", "n_items", "revenue").except(want185).isEmpty
      && want185.except(got185.select("flag", "status", "n_items", "revenue")).isEmpty)

    // pin the Spark 4.1.2 caveat: a CORRELATED lateral table function with
    // ORDER BY/LIMIT in the body silently returns no rows, while the
    // identical lateral SUBQUERY returns data — if an upgrade fixes this,
    // this assertion flips and the q184 scaladoc caveat must be retired
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_top1_order(ck BIGINT)
        |RETURNS TABLE(o_orderkey BIGINT)
        |RETURN SELECT o_orderkey FROM graft_v_orders WHERE o_custkey = ck
        |ORDER BY o_totalprice DESC LIMIT 1""".stripMargin)
    val viaTf = spark.sql(
      """SELECT c.c_custkey, o.o_orderkey
        |FROM graft_v_customer c, LATERAL graft_top1_order(c.c_custkey) o
        |WHERE c.c_custkey % 50 = 0""".stripMargin).count()
    val viaSub = spark.sql(
      """SELECT c.c_custkey, o.o_orderkey
        |FROM graft_v_customer c, LATERAL (
        |  SELECT o_orderkey FROM graft_v_orders WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC LIMIT 1) o
        |WHERE c.c_custkey % 50 = 0""".stripMargin).count()
    assert(viaSub > 0)
    assert(viaTf == 0,
      s"lateral TF with ORDER/LIMIT now returns $viaTf rows — Spark fixed the silent-empty bug; retire the q184 caveat")
  }

  test("q186 fuzzy decontamination: full eval audit table, hits clear the threshold") {
    import spark.implicits._
    val sf01 = "/root/testdata/sf0.01"
    val rows = graft.text.DedupQueries.q186FuzzyDecontamination(spark, sf01)
    val nEval = Tables.documents(spark, sf01)
      .filter(text.PipelineQueries.evalPredicate($"doc_id")).count()
    assert(rows.count() == nEval && nEval > 0) // one audit row per eval doc
    // a positive report's best match clears the Jaccard gate; a clean
    // report carries the 0-sentinel on both columns
    assert(rows.filter($"n_contaminating" > 0 &&
      $"max_jaccard" < graft.text.DedupQueries.JaccardThreshold).count() == 0)
    assert(rows.filter($"n_contaminating" === 0 && $"max_jaccard" =!= 0.0).count() == 0)
  }

  test("q180 clusters conserve: clustered docs + singletons = corpus; all clusters >= 2") {
    import spark.implicits._
    val clusters = graft.text.DedupQueries.q180TemplateClusters(spark, sf)
    assert(clusters.filter($"n_docs" < 2 || $"min_doc" >= $"max_doc").count() == 0)
    val clustered = clusters.agg(coalesce(sum($"n_docs"), lit(0L))).head().getLong(0)
    val nFps = Tables.documents(spark, sf)
      .select(md5(substring(regexp_replace(lower($"text"), "\\s+", " "), 1, 48)).as("fp"))
      .groupBy($"fp").count()
    val total = Tables.documents(spark, sf).count()
    val singletons = nFps.filter($"count" === 1).count()
    assert(clustered + singletons == total)
  }

  // ---- round-11 additions ------------------------------------------------

  test("q187 batch transformWithState == the plain grouped aggregate (the batch-mode law)") {
    import spark.implicits._
    // the oracle proves this cross-engine; this spec pins it INSIDE Spark,
    // so a regression in the batch StatefulProcessor path (not the SQL
    // aggregate) is attributed to the right operator
    val tws = relational.EventQueries.q187TwsTotalsTwin(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val agg = Tables.events(spark, sf)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(tws.keySet == agg.keySet && tws.keySet.nonEmpty)
    tws.foreach { case (u, (n, s)) =>
      assert(agg(u)._1 == n, s"user $u count")
      assert(math.abs(agg(u)._2 - s) < 1e-9, s"user $u sum")
    }
  }

  test("q188 tokenizer-encode matches an independent driver-side re-encode") {
    import spark.implicits._
    // brute-force re-encode of the sf0.001 corpus in plain Scala: same
    // vocab recipe (count >= 100, (cnt DESC, token) ids, budget cap),
    // same char fallback — a third implementation substrate next to the
    // Spark plan and the DuckDB oracle
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val V = text.PipelineQueries.EncoderVocabSize
    val counts = docs.flatMap(_._2.split(" ", -1)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap.filter(_._2 >= 100L)
    val vocab = counts.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(V).zipWithIndex.map { case ((t, _), i) => t -> i.toLong }.toMap
    def encode(w: String): Seq[Long] = vocab.get(w)
      .map(Seq(_)).getOrElse(w.map(c => V + c.toLong))
    val expect = docs.map { case (id, t) =>
      val ws = t.split(" ", -1).toSeq
      val ids = ws.map(encode)
      val wsum = ids.zipWithIndex.map { case (seq, p) =>
        (p + 1L) * seq.zipWithIndex.map { case (x, j) => (j + 1L) * x }.sum
      }.sum
      id -> ((ws.size.toLong, ids.map(_.size.toLong).sum,
        ws.count(w => !vocab.contains(w)).toLong, ids.flatten.sum, wsum))
    }.toMap
    val got = text.PipelineQueries.q188TokenizerEncode(spark, sf).collect()
    assert(got.length == expect.size && got.nonEmpty)
    got.foreach { r =>
      val e = expect(r.getLong(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) == e,
        s"doc ${r.getLong(0)}")
    }
    // the corpus exercises BOTH encoder paths (in-vocab and fallback)
    assert(got.map(_.getLong(3)).sum > 0, "no OOV words — fallback path untested")
    assert(got.map(_.getLong(1)).sum > got.map(_.getLong(3)).sum, "no in-vocab words")
  }

  test("q190 id packing conserves the encoder's id stream exactly") {
    import spark.implicits._
    val packed = text.PipelineQueries.q190PackIds(spark, sf).collect()
    val ledger = text.PipelineQueries.q188TokenizerEncode(spark, sf).collect()
    // every id the encoder emits lands in exactly one chunk: totals and
    // checksums agree between the per-doc ledger and the packed rollup
    assert(packed.map(_.getAs[Long]("chunk_ids")).sum ==
      ledger.map(_.getAs[Long]("n_ids")).sum)
    assert(packed.map(_.getAs[Long]("chunk_id_sum")).sum ==
      ledger.map(_.getAs[Long]("id_sum")).sum)
    // chunk indices are valid start-offset buckets
    assert(packed.forall(_.getAs[Long]("chunk") >= 0))
    val totalIds = ledger.map(_.getAs[Long]("n_ids")).sum
    assert(packed.map(_.getAs[Long]("chunk")).max <= totalIds / 512)
  }

  test("q191 exact-substring: planted duplicate spans measured exactly") {
    import spark.implicits._
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val s20 = words("s", 20) // 20-token run shared by docs 1 and 2
    val t8 = words("t", 8)   // 8-token run shared by docs 1 and 4
    val docs = Seq(
      1L -> (words("a", 5) ++ s20 ++ words("b", 5) ++ t8).mkString(" "), // 38 toks
      2L -> (s20 ++ words("c", 6)).mkString(" "),                        // 26 toks
      3L -> words("u", 30).mkString(" "),                                // unique
      4L -> (words("d", 3) ++ t8 ++ words("e", 4)).mkString(" ")         // 15 toks
    ).toDF("doc_id", "text")
    val out = text.DedupQueries.exactSubstringCoverage(docs, 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: the s-run's duplicated 8-grams start at 5..17 → one island of
    // 17-5+8 = 20 covered tokens; the t-run is a second island of 8.
    assert(out(1L) == ((38L, 2L, 28L)))
    assert(out(2L) == ((26L, 1L, 20L)))
    assert(out(3L) == ((30L, 0L, 0L)))
    assert(out(4L) == ((15L, 1L, 8L)))
  }

  test("q196 scripting: the bisection lands on the exact order statistic in exactly 26 steps") {
    import spark.implicits._
    val got = relational.AdvancedQueries.q196SqlScripting(spark, sf).collect()
    assert(got.nonEmpty)
    // independent recomputation of the closed form: the (⌊n/10⌋+1)-th
    // largest integer-cents price is the smallest threshold keeping ≤
    // ⌊n/10⌋ orders — any loop-bound bug lands elsewhere
    val cents = Tables.orders(spark, sf)
      .select(round($"o_totalprice" * 100).cast("long").as("c"))
    val target = cents.count() / 10
    val want = cents.orderBy($"c".desc).limit(target.toInt + 1)
      .orderBy($"c").limit(1).collect()(0).getLong(0)
    got.foreach { r =>
      assert(r.getAs[Long]("thr_cents") == want)
      assert(r.getAs[Long]("n_bisections") == 26L)
    }
    assert(got.map(_.getAs[Long]("n_orders")).sum <= target)
  }

  test("q196 fails loudly when a price is past its 2^26-cent bisection bracket") {
    import spark.implicits._
    // a scratch copy of the orders with one price at 2^26 cents
    val dir = Scratch.path(s"q196_bracket_${System.nanoTime()}")
    val orders = Tables.orders(spark, sf)
    val first = orders.agg(min($"o_orderkey")).collect()(0).getLong(0)
    orders.withColumn("o_totalprice",
        when($"o_orderkey" === first, lit((1L << 26) / 100.0)).otherwise($"o_totalprice"))
      .write.parquet(s"$dir/orders.parquet")
    val e = intercept[Exception](relational.AdvancedQueries.q196SqlScripting(spark, dir).collect())
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(messages.contains("exceeds the 2^26 bisection bracket"), messages)
  }

  test("q197 HLL union: every verdict true; the union row is sub-additive and dominated") {
    import spark.implicits._
    val got = relational.AdvancedQueries.q197HllSketchUnion(spark, sf).collect()
    assert(got.length >= 3)
    got.foreach(r => assert(r.getAs[Boolean]("within_bound"), r.toString))
    val all = got.filter(_.getString(0) == "(all)").map(_.getAs[Long]("exact_d"))
    val groups = got.filter(_.getString(0) != "(all)").map(_.getAs[Long]("exact_d"))
    assert(all.length == 1 && groups.nonEmpty)
    // distinct-union laws the sketch estimate must also have respected to
    // stay within bound: max(group) ≤ union ≤ sum(groups)
    assert(all(0) >= groups.max && all(0) <= groups.sum)
  }

  test("q198 approx_top_k: sketch-nominated exact recount equals the sketch-free computation") {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val got = text.TextQueries.q198ApproxTopK(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val toks = Tables.documents(spark, sf)
      .select(explode(tokens($"text")).as("tok"))
    val n = toks.count()
    val want = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * 50 >= n)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("q194 id capstone agrees with q100's survivor accounting per (split, lang)") {
    import spark.implicits._
    // same gate, same dedup, same hash split — the doc counts MUST match
    // q100's independently-oracled pipeline; only the chunk geometry
    // differs (128-token chunks there, 512-id packing here)
    val v100 = text.PipelineQueries.q100CorpusToSequences(spark, sf)
      .select($"split", $"lang", $"n_docs".as("d100"))
    val v194 = text.PipelineQueries.q194CorpusToIdSequences(spark, sf)
    val joined = v194.join(v100, Seq("split", "lang"), "full")
    assert(joined.filter($"n_docs".isNull || $"d100".isNull ||
      $"n_docs" =!= $"d100").count() == 0)
    // chunk-count geometry: at least 1, at most ceil(n_ids / 512) (chunks
    // index start offsets, which live in [0, n_ids-1])
    assert(v194.filter($"n_chunks" < 1 ||
      $"n_chunks" > ($"n_ids" + 511) / 512).count() == 0)
    assert(v194.count() > 0)
  }

  test("q189 semantic dedup: witnesses are real intra-cell near-dups; cell minima survive") {
    import spark.implicits._
    import graft.expressions.NativeKernels.dotF
    val out = vector.VectorQueries.q189SemanticDedup(spark, sf)
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    // every pruned vector's reported witness: smaller id, same cell,
    // cosine >= tau (recomputed from raw embeddings, not from the query)
    val cells = out.select($"vec_id".as("w_id"), $"cell".as("w_cell"))
    val witnessed = out.filter($"pruned" === 1)
      .join(cells, $"dup_of" === $"w_id")
      .join(emb.select($"vec_id", $"embedding".as("e_a")), Seq("vec_id"))
      .join(emb.select($"vec_id".as("w_id"), $"embedding".as("e_b")), Seq("w_id"))
      .select($"vec_id", $"dup_of", $"cell", $"w_cell",
        (dotF($"e_a", $"e_b") /
          (sqrt(dotF($"e_a", $"e_a")) * sqrt(dotF($"e_b", $"e_b")))).as("cos"))
    assert(witnessed.filter($"dup_of" >= $"vec_id").count() == 0)
    assert(witnessed.filter($"cell" =!= $"w_cell").count() == 0)
    assert(witnessed.filter($"cos" < vector.VectorQueries.SemDedupTau).count() == 0)
    // min-id survivorship: the smallest id in every cell has no smaller
    // same-cell neighbor, so it can never be pruned
    val minPruned = out.groupBy($"cell").agg(min($"vec_id").as("vec_id"))
      .join(out.filter($"pruned" === 1), Seq("cell", "vec_id")).count()
    assert(minPruned == 0)
    // unpruned rows carry the -1 sentinel
    assert(out.filter($"pruned" === 0 && $"dup_of" =!= -1L).count() == 0)
  }
}
