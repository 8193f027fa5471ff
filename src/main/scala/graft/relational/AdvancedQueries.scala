package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}

/** Analytics beyond the reference's literal surface (SURVEY §2.5/§2.8
  * "absent in the reference, free in Spark" tier): multi-level aggregation
  * (rollup), pivot, semi/anti joins, and an as-of join in its scalable
  * formulation. Each has an exact DuckDB oracle.
  */
object AdvancedQueries {

  /** ROLLUP over (returnflag, linestatus): per-group, per-flag subtotal and
    * grand total in one pass — planned as a single Expand + hash aggregate,
    * so the shuffle carries (groups × 3) pre-aggregated rows only.
    * Subtotal nulls are rendered '(all)' for cross-engine stability.
    */
  def q30Rollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("sum_qty"))
      .select(
        coalesce($"l_returnflag", lit("(all)")).as("rf"),
        coalesce($"l_linestatus", lit("(all)")).as("ls"),
        $"n", $"sum_qty")
      .orderBy($"rf", $"ls")
  }

  /** Pivot: linestatus rows × returnflag columns. The value list is pinned
    * (TPC-H domain A/N/R) — with an explicit list Spark skips the extra
    * distinct-values job and the plan is one partial+final aggregate.
    */
  def q31Pivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(count(lit(1)))
      .orderBy($"l_linestatus")
  }

  /** CUBE over (returnflag, linestatus): all 2² grouping combinations in
    * one Expand + hash aggregate (completes the multi-level family next to
    * q30's ROLLUP). grouping_id disambiguates genuine nulls from subtotal
    * rows.
    */
  def q44Cube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"), round(sum($"l_extendedprice"), 2).as("sum_price"))
      .select(
        coalesce($"l_returnflag", lit("(all)")).as("rf"),
        coalesce($"l_linestatus", lit("(all)")).as("ls"),
        $"gid", $"n", $"sum_price")
      .orderBy($"gid", $"rf", $"ls")
  }

  /** Higher-order array functions as a user-facing surface (filter /
    * transform / aggregate over token arrays) — appropriate OUTSIDE hot
    * per-row kernels (see NativeKernels for why the hot paths are native):
    * here each lambda runs once per document, not per pair.
    */
  def q45ArrayHof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"doc_id" % 10 === 0)
      .select($"doc_id",
        split($"text", " ", -1).as("toks"))
      .select($"doc_id",
        size(filter($"toks", t => length(t) > 4)).cast("long").as("n_long_tokens"),
        aggregate($"toks", lit(0L), (acc, t) => acc + length(t)).as("total_chars"),
        concat_ws("|", slice(transform($"toks", t => upper(t)), 1, 3)).as("first3_upper"))
      .orderBy($"doc_id")
  }

  /** Left-semi and left-anti joins (EXISTS / NOT EXISTS): customers with
    * and without orders, per market segment. Semi/anti never materialize
    * right-side columns — the build side carries only the key.
    */
  def q32SemiAnti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val ordKeys = Tables.orders(s, dir).select($"o_custkey")
    def tag(t: String, df: DataFrame): DataFrame =
      df.groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
        .select(lit(t).as("tag"), $"c_mktsegment", $"n")
    tag("with_orders", cust.join(ordKeys, $"c_custkey" === $"o_custkey", "left_semi"))
      .unionByName(
        tag("no_orders", cust.join(ordKeys, $"c_custkey" === $"o_custkey", "left_anti")))
      .orderBy($"tag", $"c_mktsegment")
  }

  /** As-of join: for each `error` event, the same user's most recent
    * `purchase` at or before it (second precision; null if none).
    *
    * Formulated the way it scales: tag and UNION the two sides, shuffle
    * ONCE on user_id, sort within partition by (ts, side), and carry the
    * last non-null purchase ts forward with `last(ignoreNulls)` over an
    * unbounded-preceding frame. No range join, no per-row probe: cost is
    * one shuffle + one in-partition sort regardless of how many purchases
    * precede each event. (A 1000-executor cluster handles skewed users via
    * AQE; state per row is one timestamp.) Purchases sort before events at
    * an equal second, matching the oracle's `<=`. Oracle: DuckDB's native
    * ASOF LEFT JOIN.
    */
  def q33AsofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", date_trunc("second", $"ts").as("ts_s"), $"event_id", $"event_type")
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"ts_s", $"event_id", lit(null).cast("timestamp").as("p_ts"),
        lit(1).as("side"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts_s").distinct()
      .select($"user_id", $"ts_s", lit(null).cast("long").as("event_id"), $"ts_s".as("p_ts"),
        lit(0).as("side"))
    val w = Window.partitionBy($"user_id").orderBy($"ts_s", $"side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    errors.unionByName(purchases)
      .withColumn("last_p", last($"p_ts", ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .select($"event_id", $"user_id",
        date_format($"last_p", "yyyy-MM-dd HH:mm:ss").as("last_purchase"))
      .orderBy($"event_id")
  }

  /** q33's semantics through the NATIVE as-of join operator
    * (plans.AsOfJoinExec: custom LogicalPlan + planner strategy + merge
    * SparkPlan — the whole-operator extension tier). Same answer as q33
    * (AsOfJoinSpec asserts row-for-row equality and pins the plan to one
    * AsOfJoinExec + two exchanges, no WindowExec); the physical shape
    * differs: each side shuffles only its OWN columns and the per-
    * partition merge carries one buffered row of state instead of a
    * window frame over the padded union. Both inputs are projected to
    * exactly the joined columns before the operator (it is opaque to
    * ColumnPruning by design) and the purchase side is deduped so "the
    * latest ≤ ts" is unique. Oracle: DuckDB's native ASOF LEFT JOIN —
    * the same oracle text as q33.
    */
  def q171AsofNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val errors = Tables.events(s, dir)
      .filter($"event_type" === "error")
      .select($"user_id", date_trunc("second", $"ts").as("ts_s"), $"event_id")
    // second scan → fresh attribute ids (the operator requires disjoint
    // sides; see AsOf.joinAsOf) and a right side deduped on (key, time)
    val purchases = Tables.events(s, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), date_trunc("second", $"ts").as("p_ts"))
      .distinct()
    graft.plans.AsOf.joinAsOf(
        errors, purchases, Seq("user_id" -> "p_user"), "ts_s", "p_ts")
      .select($"event_id", $"user_id",
        date_format($"p_ts", "yyyy-MM-dd HH:mm:ss").as("last_purchase"))
      .orderBy($"event_id")
  }

  /** Relative-error budget the q37 verdict column enforces — well above
    * the configured 2% rsd, so `within_bound=false` means the sketch is
    * genuinely broken, not unlucky.
    */
  private[graft] val ApproxDistinctMaxRelErr = 0.05

  /** Diagnostic form of q37: the HLL estimate NEXT TO the exact count with
    * the realized relative error. Sketch values are engine-specific, so
    * this shape is spec-only (ScaleSpec bounds rel_err); the REGISTERED
    * q37 below collapses it to a deterministic verdict DuckDB can
    * hash-match.
    */
  private[graft] def q37ApproxDistinctRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The exact reference count comes from a SEPARATE aggregation (the
    // skew-resistant distinct-count shape), then a 3-row join: putting
    // countDistinct in the same agg as the HLL forces the Expand-based
    // multi-distinct plan and runs the sketch over doubled rows (measured
    // ~6× slower under full evaluation).
    val li = Tables.lineitem(s, dir)
    val approx = li.groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey", rsd = 0.02).as("approx_d"))
    val exact = graft.operators.Salting
      .skewResistantDistinctCount(li, "l_returnflag", "l_partkey")
      .withColumnRenamed("n_distinct", "exact_d")
    approx.join(exact, "l_returnflag")
      .select($"l_returnflag", $"approx_d", $"exact_d",
        round(abs($"approx_d" - $"exact_d").cast("double") / $"exact_d", 4).as("rel_err"))
      .orderBy($"l_returnflag")
  }

  /** Approximate distinct counting (HLL++): the sketch tier a 100 TB engine
    * aggregates cardinalities with — mergeable, fixed-size state instead of
    * a distinct shuffle. The registered output is fully adjudicable
    * (VERDICT r9 missing #2 — this was one of two `no_oracle` rows): the
    * engine-specific estimate itself is collapsed to a deterministic
    * verdict `within_bound := rel_err ≤ 5%` next to the exact count, so
    * DuckDB recomputes the exact side and expects the verdict true — a
    * sketch regression past the budget flips the boolean and fails the
    * hash compare.
    */
  def q37ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    q37ApproxDistinctRaw(s, dir)
      .select($"l_returnflag", $"exact_d",
        ($"rel_err" <= ApproxDistinctMaxRelErr).as("within_bound"))
      .orderBy($"l_returnflag")
  }

  /** Exact percentiles (sort-based `percentile`, linear interpolation) —
    * deterministic here because l_quantity is integral-valued, so the
    * interpolated points are exact in double in both engines. At 100 TB the
    * approx_percentile sketch (q131) replaces this; the exact form is the
    * verification baseline q131's spec measures against.
    */
  def q39Quantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        percentile($"l_quantity", lit(0.5)).as("median"),
        percentile($"l_quantity", lit(0.9)).as("p90"),
        round(avg($"l_quantity"), 4).as("mean"))
      .orderBy($"l_returnflag")
  }

  /** Guaranteed rank error of q131's sketch: ≤ n/accuracy positions. */
  private[graft] val ApproxQuantileAccuracy = 10000

  /** Diagnostic form of q131: the raw sketch values (engine-specific —
    * spec-only; ScaleSpec checks them against the exact rank band). The
    * REGISTERED q131 below collapses them to a deterministic verdict.
    */
  private[graft] def q131ApproxQuantilesRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        approx_percentile($"l_quantity", lit(0.5), lit(ApproxQuantileAccuracy))
          .as("approx_median"),
        approx_percentile($"l_quantity", lit(0.9), lit(ApproxQuantileAccuracy))
          .as("approx_p90"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  /** Sketch-tier quantiles — the 100 TB path beside exact q39. The
    * Greenwald-Khanna sketch behind `approx_percentile` keeps a bounded
    * summary per group, merges associatively across partitions (one small
    * state row crosses the shuffle, like q37's HLL), and bounds RANK error
    * at n/accuracy — the trade a petabyte percentile has to make, since the
    * exact form is a per-group sort.
    *
    * Registered output (VERDICT r9 missing #2 — the other `no_oracle`
    * row): exact interpolated percentiles (DuckDB recomputes them with
    * quantile_cont, q39's device) plus `within_bound`, the sketch's own
    * rank guarantee checked EXACTLY — the returned value's realized rank
    * interval [#{x<v}+1, #{x≤v}] must intersect target ± ⌈n/accuracy⌉+1
    * (the +1 absorbs the ⌈p·n⌉ target convention). No interpolation slop:
    * the ranks come from conditional counts against the actual data, one
    * broadcast of the ≤|returnflag-domain| sketch rows joined back over
    * one more scan. DuckDB expects true; a sketch past its guarantee
    * flips the boolean and fails the hash.
    */
  def q131ApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val sk = li.groupBy($"l_returnflag")
      .agg(
        approx_percentile($"l_quantity", lit(0.5), lit(ApproxQuantileAccuracy)).as("am"),
        approx_percentile($"l_quantity", lit(0.9), lit(ApproxQuantileAccuracy)).as("ap"),
        percentile($"l_quantity", lit(0.5)).as("exact_median"),
        percentile($"l_quantity", lit(0.9)).as("exact_p90"),
        count(lit(1)).as("n"))
    def rankOk(lt: Column, le: Column, p: Double) = {
      val target = ceil(lit(p) * $"n")
      val err = ceil($"n".cast("double") / ApproxQuantileAccuracy) + 1
      (lt + 1 <= target + err) && (le >= target - err)
    }
    li.join(broadcast(sk), "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(
        count(when($"l_quantity" < $"am", 1)).as("am_lt"),
        count(when($"l_quantity" <= $"am", 1)).as("am_le"),
        count(when($"l_quantity" < $"ap", 1)).as("ap_lt"),
        count(when($"l_quantity" <= $"ap", 1)).as("ap_le"),
        any_value($"exact_median").as("exact_median"),
        any_value($"exact_p90").as("exact_p90"),
        any_value($"n").as("n"))
      .select($"l_returnflag", $"n", $"exact_median", $"exact_p90",
        (rankOk($"am_lt", $"am_le", 0.5) && rankOk($"ap_lt", $"ap_le", 0.9))
          .as("within_bound"))
      .orderBy($"l_returnflag")
  }

  /** Analytic-window breadth beyond the reference's lone row_number (W1):
    * lag/lead, rank/dense_rank, and a running sum over an explicit
    * rows-frame — one exchange on the partition key, one in-partition
    * sort, all functions evaluated in a single WindowExec pass.
    */
  def q42WindowSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byDate = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    val byPrice = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(s, dir)
      .filter($"o_custkey" % 10 === 0)
      .select(
        $"o_custkey", $"o_orderkey",
        round($"o_totalprice", 2).as("price"),
        round(lag($"o_totalprice", 1).over(byDate), 2).as("prev_price"),
        round(lead($"o_totalprice", 1).over(byDate), 2).as("next_price"),
        rank().over(byPrice).cast("long").as("price_rank"),
        dense_rank().over(byPrice).cast("long").as("price_dense_rank"),
        round(sum($"o_totalprice")
          .over(byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_total"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** String-function breadth (F6-family beyond the reference's concat):
    * pad/trim/replace/regexp/extract/position — all codegen'd built-ins,
    * map-side only.
    */
  def q43StringFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .filter($"p_partkey" % 20 === 0)
      .select(
        $"p_partkey",
        lpad($"p_brand", 12, "*").as("brand_lpad"),
        rpad($"p_brand", 12, "#").as("brand_rpad"),
        trim(lit(" pad "), lit(" ")).as("trimmed"),
        regexp_replace($"p_name", "[aeiou]", "_").as("devoweled"),
        substring($"p_name", 1, 8).as("name_prefix"),
        instr($"p_type", "BRASS").cast("long").as("brass_pos"),
        reverse($"p_brand").as("brand_rev"),
        repeat(lit("ab"), 3).as("repeated"),
        length($"p_name").cast("long").as("name_len"))
      .orderBy($"p_partkey")
  }

  /** Skew-resistant aggregation via the [[graft.operators.Salting]]
    * rewrites, registered against the naive GROUP BY as its oracle —
    * l_returnflag has only 3 values, so EVERY key is a hot key and the
    * salted two-stage shape is doing exactly the work it exists for:
    * `saltedSum` spreads each key's partial sums over 8 salt buckets;
    * `skewResistantDistinctCount` spreads the distinct-set dedup over the
    * (key, value) shuffle instead of one task's aggregation state. The
    * oracle's plain sum/count(DISTINCT) restates the result, proving the
    * rewrites are result-identical (quantities are integral, so the
    * reordered double sums are exact).
    */
  def q52SkewAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Salting
    val li = Tables.lineitem(s, dir)
    val sums = Salting.saltedSum(li, "l_returnflag", $"l_quantity", salts = 8)
    val distincts = Salting.skewResistantDistinctCount(li, "l_returnflag", "l_partkey")
    sums.join(distincts, "l_returnflag")
      .select($"l_returnflag", round($"total", 2).as("sum_qty"), $"n", $"n_distinct")
      .orderBy($"l_returnflag")
  }

  /** Unpivot (wide→long melt) — the inverse of q31's pivot: per-part metric
    * columns become (metric, value) rows. Value columns are pre-cast to one
    * type (unpivot requires it); the operator itself is a zero-shuffle
    * Expand, each input row emitting one row per metric.
    */
  def q71Unpivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .filter($"p_partkey" % 25 === 0)
      .select($"p_partkey",
        $"p_size".cast("double").as("p_size"), $"p_retailprice")
      .unpivot(Array($"p_partkey"), Array($"p_size", $"p_retailprice"),
        "metric", "value")
      .orderBy($"p_partkey", $"metric")
  }

  /** Explicit GROUPING SETS (the general form next to q30's ROLLUP and
    * q44's CUBE): (priority, status), (priority), and grand total in one
    * Expand + hash aggregate; grouping_id separates subtotal rows from
    * genuine groups.
    */
  def q72GroupingSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq($"o_orderpriority", $"o_orderstatus"), Seq($"o_orderpriority"), Seq()),
        $"o_orderpriority", $"o_orderstatus")
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total_price"))
      .select(
        coalesce($"o_orderpriority", lit("(all)")).as("priority"),
        coalesce($"o_orderstatus", lit("(all)")).as("status"),
        $"gid", $"n", $"total_price")
      .orderBy($"gid", $"priority", $"status")
  }

  /** Statistical aggregates (corr / covariance / stddev / variance): the
    * profile pass run before normalizing features or weighting mixtures.
    * All are single-pass mergeable moments (Welford-style partial state) —
    * one partial+final hash aggregate, shuffle carries one state row per
    * group. Rounded: both engines compute exact moments up to double
    * summation order, so 4 decimals is stable (integral quantities).
    */
  def q74StatsAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        round(corr($"l_quantity", $"l_extendedprice"), 4).as("qty_price_corr"),
        round(covar_samp($"l_quantity", $"l_extendedprice"), 2).as("qty_price_covar"),
        round(stddev_samp($"l_quantity"), 4).as("qty_stddev"),
        round(var_pop($"l_quantity"), 4).as("qty_var_pop"),
        round(avg($"l_discount"), 4).as("avg_discount"))
      .orderBy($"l_returnflag")
  }

  /** Conversion-funnel analysis (view → click → purchase, per user): one
    * conditional-aggregation pass computes each user's first event time
    * per stage, and stage attainment requires strictly increasing stage
    * times. One shuffle on user_id carrying three timestamps per user;
    * no self-joins, no window. Timestamps are second-truncated BEFORE the
    * min so both engines compare identical values (events.ts is
    * nanos-precision in the raw file).
    */
  def q84Funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type", date_trunc("second", $"ts").as("ts_s"))
    ev.groupBy($"user_id")
      .agg(
        min(when($"event_type" === "view", $"ts_s")).as("v_ts"),
        min(when($"event_type" === "click", $"ts_s")).as("c_ts"),
        min(when($"event_type" === "purchase", $"ts_s")).as("p_ts"))
      .select(
        when($"v_ts".isNull, 0)
          .when($"c_ts".isNull || $"c_ts" <= $"v_ts", 1)
          .when($"p_ts".isNull || $"p_ts" <= $"c_ts", 2)
          .otherwise(3).cast("long").as("funnel_stage"))
      .groupBy($"funnel_stage")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"funnel_stage")
  }

  /** Column profiling (the ANALYZE pass run before planning a migration or
    * a training run): per column, null count, distinct count, min/max as
    * strings. The non-distinct stats come from one scan; each exact
    * distinct count is its own single-COLUMN distinct→count joined back as
    * a broadcast 1-row relation. Round 16 replaced the previous
    * one-scan multi-distinct formulation (Spark's Expand plan: every row
    * quadrupled between scan and partial aggregate): measured 4× faster
    * here (1.20 s → 0.30 s at sf0.1 min-of-6, SCALING.md round 16) — the
    * registry's last unexplained mover, which was never the host after
    * all. The 100 TB reading: columnar pruning makes each re-scan read
    * ONE column (~total bytes ≈ 2× the single-scan plan), both plans
    * shuffle the same partial distinct sets, and only Expand pays the
    * N× row materialization — so the re-scan plan wins everywhere the
    * storage is columnar; at scale each distinct count swaps for
    * approx_count_distinct (q37's sketch tier) and the re-scans
    * disappear entirely. The 1-row aggregate melts to rows via `stack` —
    * plan-level, no shuffle.
    */
  def q85Profile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    def statsOf(c: String, p: String) = Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${p}_nulls"),
      min(col(c).cast("string")).as(s"${p}_min"),
      max(col(c).cast("string")).as(s"${p}_max"))
    val cols = Seq("o_custkey" -> "ck", "o_orderpriority" -> "pr", "o_orderstatus" -> "st")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { case (c, p) => statsOf(c, p) }
    // count(col) over the distinct values == countDistinct(col): distinct
    // keeps a NULL row, count(col) skips it — null-skipping preserved
    val distincts = cols.map { case (c, p) =>
      o.select(col(c)).distinct().agg(count(col(c)).as(s"${p}_d"))
    }
    val stackArgs = cols.map { case (c, p) =>
      s"'$c', n_rows, ${p}_nulls, ${p}_d, ${p}_min, ${p}_max" }.mkString(", ")
    distincts.foldLeft(o.agg(aggs.head, aggs.tail: _*))(
        (acc, d) => acc.crossJoin(broadcast(d)))
      .select(expr(s"stack(${cols.size}, $stackArgs)" +
        " AS (column_name, n_rows, n_nulls, n_distinct, min_str, max_str)"))
      .orderBy($"column_name")
  }

  /** ntile bucketing within each order-priority partition: quartiles of
    * order value per priority class. The window partitions on priority, so
    * each partition sorts independently — scales with the largest group,
    * not the table (a GLOBAL ntile would be a single-partition sort; for
    * that use approx quantile cutpoints instead, q39).
    */
  def q86Ntile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    Tables.orders(s, dir)
      .select($"o_orderpriority", $"o_totalprice",
        ntile(4).over(w).cast("long").as("quartile"))
      .groupBy($"o_orderpriority", $"quartile")
      .agg(count(lit(1)).as("n"),
        round(min($"o_totalprice"), 2).as("min_price"),
        round(max($"o_totalprice"), 2).as("max_price"))
      .orderBy($"o_orderpriority", $"quartile")
  }

  /** Per-group value sampling (collect_set → sort → truncate): the "show
    * me example values per segment" profiling op. The set is bounded by
    * the group's distinct cardinality — safe here (nations ≤ 25); the
    * general guard at scale is slice-after-sort exactly as written, which
    * caps what leaves the aggregation. Rendered as a string so the
    * cross-engine compare is order-exact.
    */
  def q87GroupSamples(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .groupBy($"c_mktsegment")
      .agg(
        countDistinct($"c_nationkey").as("n_nations"),
        concat_ws(",", slice(sort_array(collect_set($"c_nationkey")), 1, 5))
          .as("sample_nations"))
      .orderBy($"c_mktsegment")
  }

  /** RANGE window frame (vs q42's ROWS frames): per customer, each order's
    * count and value of the SAME customer's orders within ±15 days —
    * peers are chosen by value distance on the ordering key, not row
    * position, which is the correct frame for event-time neighborhoods
    * with ties/gaps. Ordered by epoch seconds so the frame bound is a
    * plain numeric range in both engines; the windowed sum is exact
    * integer cents.
    */
  def q93RangeFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val day = 86400L
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"epoch_s")
      .rangeBetween(-15 * day, 15 * day)
    Tables.orders(s, dir)
      .filter($"o_custkey" % 10 === 0)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        unix_timestamp($"o_orderdate").as("epoch_s"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .select($"o_custkey", $"o_orderkey",
        count(lit(1)).over(w).as("n_nearby"),
        (sum($"cents").over(w) / 100.0).as("nearby_value"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Recursive CTE (Spark 4's `WITH RECURSIVE` → `UnionLoop`): walk every
    * customer's ancestor chain through the decimal hierarchy
    * `parent(k) = k div 10` — each level a REAL equi-join of the frontier
    * against customer (the parent row must exist), not arithmetic-only
    * recursion — and roll up customers by distance to their root. The
    * iteration count is log₁₀-bounded (depth ≈ 7 at 100 TB key ranges) and
    * the frontier SHRINKS every step (rows at their root leave via the
    * `cur >= 10` guard), so each superstep is one equi-join on a frontier
    * no larger than the previous — the engine-managed twin of q69's
    * driver-loop label propagation. `node_key_sum` pins the full
    * node↔depth assignment, not just counts.
    *
    * Scale knobs: `spark.sql.cteRecursionLevelLimit` (default 100 —
    * orders of magnitude above the log-bounded depth here) and
    * `spark.sql.cteRecursionRowLimit` (a total-emitted-rows guardrail a
    * billion-key deployment raises deliberately; it exists to fail
    * runaway recursions loudly, not to size plans).
    */
  def q177RecursiveCte(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("graft_v_customer")
    s.sql(
      """WITH RECURSIVE chain AS (
        |  SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth
        |  FROM graft_v_customer
        |  UNION ALL
        |  SELECT ch.node, p.c_custkey AS cur, ch.depth + 1
        |  FROM chain ch JOIN graft_v_customer p ON p.c_custkey = ch.cur div 10
        |  WHERE ch.cur >= 10
        |)
        |SELECT CAST(depth AS BIGINT) AS depth, count(*) AS n_customers,
        |  CAST(sum(cur) AS BIGINT) AS root_key_sum,
        |  CAST(sum(node) AS BIGINT) AS node_key_sum
        |FROM chain WHERE cur < 10
        |GROUP BY depth ORDER BY depth""".stripMargin)
  }

  /** SQL-defined scalar functions (Spark 4's `CREATE FUNCTION … RETURN
    * expr`, SPARK-46245): business logic declared ONCE in the catalog and
    * reused across queries — the governed alternative to copy-pasted
    * expressions AND to JVM UDFs. The analyzer inlines the function body
    * into the plan (`ResolveSQLFunctions`), so unlike a black-box UDF the
    * expression stays inside whole-stage codegen and Catalyst can fold/
    * push around it — at 100 TB these are exactly as cheap as hand-inlined
    * arithmetic, which the oracle proves by BEING the hand-inlined form.
    * `graft_disc_delta` calls `graft_net` — nested SQL-function resolution
    * — and both are exercised under aggregation over the fact table.
    */
  def q183SqlUdf(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_v_lineitem")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_net(
        |  price DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS DOUBLE
        |RETURN price * (1 - disc) * (1 + tax)""".stripMargin)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_delta(
        |  price DOUBLE, disc DOUBLE) RETURNS DOUBLE
        |RETURN price - graft_net(price, disc, 0D)""".stripMargin)
    s.sql(
      """SELECT year(l_shipdate) AS ship_year, count(*) AS n_items,
        |  round(sum(graft_net(l_extendedprice, l_discount, l_tax)), 2) AS net_revenue,
        |  round(sum(graft_disc_delta(l_extendedprice, l_discount)), 2) AS discount_given
        |FROM graft_v_lineitem
        |GROUP BY ship_year ORDER BY ship_year""".stripMargin)
  }

  /** SQL TABLE functions (`CREATE FUNCTION … RETURNS TABLE … RETURN
    * SELECT`): a parameterized relation in the catalog, consumed here
    * through a CORRELATED `LATERAL` call — each customer's row feeds the
    * function argument, the analyzer decorrelates to an equi-join, and
    * the rollup counts each sampled customer's large orders. The oracle
    * is the decorrelated join itself, so a silent decorrelation loss
    * fails the hash, not just looks plausible.
    *
    * CAVEAT (pinned in BreadthSpec): in Spark 4.1.2 a correlated lateral
    * TABLE-function whose body carries ORDER BY/LIMIT returns EMPTY
    * silently — the equivalent lateral SUBQUERY (q94) is correct. Keep
    * per-group top-k in lateral subquery form; use table functions for
    * filter/project bodies like this one.
    */
  def q184SqlTableFn(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_v_orders")
    Tables.customer(s, dir).createOrReplaceTempView("graft_v_customer")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_big_orders(
        |  ck BIGINT, floor_price DOUBLE) RETURNS TABLE(o_orderkey BIGINT, price DOUBLE)
        |RETURN SELECT o_orderkey, round(o_totalprice, 2) AS price
        |FROM graft_v_orders WHERE o_custkey = ck AND o_totalprice > floor_price""".stripMargin)
    s.sql(
      """SELECT c.c_custkey, count(*) AS n_big,
        |  round(max(o.price), 2) AS max_price,
        |  min(o.o_orderkey) AS min_orderkey
        |FROM graft_v_customer c, LATERAL graft_big_orders(c.c_custkey, 150000D) o
        |WHERE c.c_custkey % 50 = 0
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin)
  }

  /** SQL pipe syntax (Spark 4's `|>` operators, SPARK-49555): the
    * linear-dataflow spelling of filter → aggregate → order. Pure parser
    * surface — the plan is identical to the standard-SQL form, which is
    * exactly what the oracle states by BEING that form (DuckDB has no
    * pipe parser).
    */
  def q185PipeSyntax(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_v_lineitem")
    s.sql(
      """FROM graft_v_lineitem
        ||> WHERE l_quantity > 10
        ||> AGGREGATE count(*) AS n_items,
        |     round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |   GROUP BY l_returnflag AS flag, l_linestatus AS status
        ||> ORDER BY flag, status""".stripMargin)
  }

  /** Total bisection steps q196's loop runs: the bracket starts at
    * [0, 2^26) integer cents (2^26 = 67,108,864 > the 49,997,859-cent
    * TPC-H price ceiling) and halves every iteration until width 1, so
    * the trip count is exactly log₂(2^26) = 26 — which is what lets the
    * oracle state the loop's iteration counter as a literal.
    */
  private[graft] val BisectionSteps = 26

  /** SQL scripting (Spark 4's procedural `BEGIN … END`, SPARK-48338):
    * DECLARE'd session variables, a data-driven `WHILE` loop, and
    * scalar-subquery assignment — the control-flow surface that replaces
    * driver-side glue code for fixed-point searches. The script bisects
    * (on exact integer cents, so every step is engine-portable) for the
    * smallest price threshold keeping at most 10% of orders, then runs
    * the reporting aggregate at that threshold. The adjudication is
    * strong because the fixed point has a CLOSED FORM the oracle states
    * independently — the (⌊n/10⌋+1)-th largest cents value, i.e. an
    * order statistic: a single off-by-one in the loop bounds or the
    * bracket update lands on a different threshold and fails the hash.
    * Scale: the fact table is scanned ONCE into a cached cent-histogram
    * (bounded by the price domain — ≤ ~50M cent values no matter how many
    * orders), and each of the [[BisectionSteps]] = 26 iterations probes
    * that aggregate, so at 100 TB the loop costs 26 memory-speed partial
    * sums, not 26 fact scans.
    */
  def q196SqlScripting(s: SparkSession, dir: String): DataFrame =
    // the whole setup runs inside the scope: an exception in the view /
    // cache statements must not leak the scripting flag (ADVICE r12)
    graft.Session.withConf(s, "spark.sql.scripting.enabled" -> "true") {
    Tables.orders(s, dir).createOrReplaceTempView("graft_v_orders")
    // (cents → n_orders) histogram, cached across the loop's probes; the
    // uncache drops a stale entry when the sf dir changes mid-session.
    // Round-19 optimization: the histogram is coalesced to ONE partition
    // before caching — it is bounded by the price DOMAIN (≤ 2^26 distinct
    // cent values by the bracket precondition, ≤ ~1 GB of (long, long)
    // rows at any corpus size, usually far less), and cached plans keep
    // their partitioning (AQE does not re-coalesce under the cache), so
    // each of the 26 bisection probes was a 32-task scan stage over
    // kilobytes. One cached partition makes every probe a 2-task job.
    try s.catalog.uncacheTable("graft_v_cents") catch { case _: Exception => () }
    s.sql(
      """SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c, count(*) AS n
        |FROM graft_v_orders GROUP BY c""".stripMargin)
      .coalesce(1)
      .createOrReplaceTempView("graft_v_cents")
    s.catalog.cacheTable("graft_v_cents")
    // Round-19 optimization (guide §1.2 per-task work): the loop body ran
    // 3–4 interpreted statements per iteration (SET mid, SET iters, IF
    // probe, SET branch) — each a parse/plan/execute round-trip, 26×2
    // reps of them. Round 20 folds the remaining two SETs into ONE
    // 4-target multi-assign per iteration: every RHS reference reads the
    // PRE-statement variable values, so `(lo + hi) div 2` inlined in the
    // probe's WHERE and in both CASE arms is exactly the old `mid`, which
    // is still DECLAREd, assigned, and carried. The SAME bisection
    // (identical mid sequence, identical probe aggregate, identical
    // bracket updates, iters still counted BY the loop) now costs one
    // interpreted statement per iteration — 26 round-trips, not 52.
    // WHILE + DECLARE + scalar-subquery assignment — the scripting
    // surface this query exists to exercise — are unchanged.
    s.sql(
      s"""BEGIN
         |  DECLARE lo BIGINT DEFAULT 0;
         |  DECLARE hi BIGINT DEFAULT ${1L << BisectionSteps};
         |  DECLARE mid BIGINT DEFAULT 0;
         |  DECLARE target BIGINT DEFAULT 0;
         |  DECLARE iters BIGINT DEFAULT 0;
         |  -- bracket precondition made self-reporting (ADVICE r11): a data
         |  -- regen with prices ≥ 2^$BisectionSteps cents would silently
         |  -- clamp the threshold; fail loudly here instead
         |  IF (SELECT max(c) FROM graft_v_cents) >= hi THEN
         |    SELECT raise_error(concat('q196: max cents ',
         |      (SELECT CAST(max(c) AS STRING) FROM graft_v_cents),
         |      ' exceeds the 2^$BisectionSteps bisection bracket'));
         |  END IF;
         |  SET target = (SELECT CAST(sum(n) AS BIGINT) div 10 FROM graft_v_cents);
         |  WHILE hi - lo > 1 DO
         |    SET (mid, iters, lo, hi) = (SELECT
         |        (lo + hi) div 2,
         |        iters + 1,
         |        CASE WHEN agg.above > target THEN (lo + hi) div 2 ELSE lo END,
         |        CASE WHEN agg.above > target THEN hi ELSE (lo + hi) div 2 END
         |      FROM (SELECT coalesce(sum(n), 0) AS above
         |            FROM graft_v_cents WHERE c > (lo + hi) div 2) agg);
         |  END WHILE;
         |  SELECT o_orderpriority, count(*) AS n_orders,
         |    round(sum(o_totalprice), 2) AS revenue,
         |    hi AS thr_cents, iters AS n_bisections
         |  FROM graft_v_orders
         |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > hi
         |  GROUP BY o_orderpriority ORDER BY o_orderpriority;
         |END""".stripMargin)
    }

  /** Mergeable distinct-count sketches (Spark's DataSketches HLL surface,
    * SPARK-16484: `hll_sketch_agg` / `hll_union_agg` /
    * `hll_sketch_estimate`): per-group sketches UNIONED into a rollup
    * estimate without rescanning the data — the property q37's plain
    * `approx_count_distinct` cannot express, and the reason sketch
    * columns are the 100 TB cardinality currency (a daily 4 KB sketch per
    * partition rolls up to any ad-hoc grain for free). Per-priority
    * customer sketches (lgK=14) are built ONCE; the '(all)' row is
    * `hll_union_agg` over those 5 sketch values — no second scan — and is
    * genuinely sub-additive (customers order under several priorities).
    * Adjudication follows q37's verdict pattern: estimates collapse to
    * `within_bound := rel_err ≤ 5%` next to exact counts DuckDB
    * recomputes; the exact side reuses the sketch-free distinct shape.
    */
  def q197HllSketchUnion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    val sketches = o.groupBy($"o_orderpriority")
      .agg(hll_sketch_agg($"o_custkey", lit(14)).as("sk"))
    val perGroup = sketches
      .select($"o_orderpriority".as("grp"), hll_sketch_estimate($"sk").as("est"))
    val unioned = sketches
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est"))
      .select(lit("(all)").as("grp"), $"est")
    val exact = o.groupBy($"o_orderpriority")
      .agg(countDistinct($"o_custkey").as("exact_d"))
      .select($"o_orderpriority".as("grp"), $"exact_d")
      .union(o.agg(countDistinct($"o_custkey").as("exact_d"))
        .select(lit("(all)").as("grp"), $"exact_d"))
    perGroup.union(unioned).join(exact, "grp")
      .select($"grp", $"exact_d",
        (abs($"est" - $"exact_d").cast("double") / $"exact_d"
          <= ApproxDistinctMaxRelErr).as("within_bound"))
      .orderBy($"grp")
  }

  /** LATERAL correlated subquery (SQL surface): top-2 orders by value per
    * customer, the "per-row dependent subquery" shape Spark's analyzer
    * decorrelates into a ranked join — no driver loop, no N scans of
    * orders. Registered through `spark.sql` to exercise the parser +
    * decorrelation path; DuckDB runs the identical SQL.
    */
  def q94Lateral(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("graft_v_customer")
    Tables.orders(s, dir).createOrReplaceTempView("graft_v_orders")
    s.sql(
      """SELECT c.c_custkey, o.o_orderkey, round(o.o_totalprice, 2) AS price
        |FROM graft_v_customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM graft_v_orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        |) o
        |WHERE c.c_custkey % 50 = 0
        |ORDER BY c.c_custkey, price DESC, o.o_orderkey""".stripMargin)
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the join
    * semantics dirty-key data needs — NULL keys MATCH each other instead
    * of silently dropping. Keys are derived with a null-injecting bucket
    * (`nullif(x % 7, 0)`); the output proves the null-null bucket joins.
    *
    * Plan shape (VERDICT r14 wrong #1): the key domain is a CONSTANT 7
    * values, so enumerating the joined pairs and counting them grows as
    * |customer|·|supplier| — quadratic in data size (measured 10.2× at
    * 10× data, the registry's second-worst ratio). The identical answer
    * is available in O(|keys|): null-safe-GROUP each side to (key, n)
    * first — groupBy already puts all NULL keys in one group, the exact
    * semantics `<=>` gives a join — then join the two ≤8-row aggregates
    * with `<=>` (still exercising the null-safe operator surface, now as
    * a broadcast of a bounded relation) and MULTIPLY the counts. Join
    * output is ≤8 rows at any corpus size; the only full-data passes are
    * the two map-side-combined aggregations. ScaleSpec pins that no
    * pair-enumerating join remains (the join's inputs are both
    * aggregates).
    */
  def q98NullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
      .groupBy(nullif($"c_nationkey" % 7, lit(0)).as("ck"))
      .agg(count(lit(1)).as("c_n"))
    val sup = Tables.supplier(s, dir)
      .groupBy(nullif($"s_nationkey" % 7, lit(0)).as("sk"))
      .agg(count(lit(1)).as("s_n"))
    c.join(broadcast(sup), $"ck" <=> $"sk")
      .select(coalesce($"ck".cast("string"), lit("(null)")).as("key"),
        ($"c_n" * $"s_n").as("n_pairs"))
      .orderBy($"key")
  }

  /** try_* error-tolerant functions (the ANSI-safe surface for dirty
    * data): try_cast of extracted digits, try_divide's null-on-zero, and
    * try_element_at's null-out-of-bounds — each poison-proof where the
    * strict form would throw or x-fail the job 90 TB in. All map-side,
    * codegen'd.
    */
  def q99TryFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .filter($"c_custkey" % 25 === 0)
      .select(
        $"c_custkey",
        expr("try_cast(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT)").as("parsed_id"),
        try_divide(lit(100), $"c_custkey" % 3).as("inv3"),
        try_element_at(split($"c_name", "#"), lit(3)).as("missing_part"),
        try_element_at(split($"c_name", "#"), lit(2)).as("id_part"))
      .orderBy($"c_custkey")
  }

  /** Linear-regression aggregates (regr_slope/intercept/r2/count): the
    * one-pass OLS fit per group — like q74's moments these are mergeable
    * fixed-size state, so the shuffle carries one state row per group.
    * The fit of quantity → extended price per return flag; inputs are
    * exact (integral quantities, 2-decimal prices), so 4-decimal rounding
    * absorbs the double-summation-order slack across engines.
    */
  def q104RegressionAggs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        round(regr_slope($"l_extendedprice", $"l_quantity"), 4).as("slope"),
        round(regr_intercept($"l_extendedprice", $"l_quantity"), 4).as("intercept"),
        round(regr_r2($"l_extendedprice", $"l_quantity"), 6).as("r2"),
        regr_count($"l_extendedprice", $"l_quantity").as("n"))
      .orderBy($"l_returnflag")
  }

  /** Deterministic mode per group: most frequent order priority per
    * status, ties broken by the larger value — Spark's built-in `mode()`
    * is tie-arbitrary (useless under a hash-compare gate and any
    * reproducibility requirement), so the engine's mode is the explicit
    * count → top-1 window, which WindowGroupLimit keeps cheap.
    */
  def q105Mode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_orderstatus").orderBy($"n".desc, $"o_orderpriority".desc)
    Tables.orders(s, dir)
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_orderstatus", $"o_orderpriority".as("mode_priority"), $"n")
      .orderBy($"o_orderstatus")
  }

  /** Inter-event gap statistics per event type (telemetry cadence): lag
    * over (type, time) gives each event's distance to its predecessor;
    * gaps are whole seconds (second-truncated timestamps → integer
    * diffs), so min/max/avg/median are exact cross-engine. One shuffle on
    * event_type; the per-type sort is the window's in-partition sort.
    */
  def q106EventGaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"ts_s", $"event_id")
    graft.Tables.events(s, dir)
      .select($"event_id", $"event_type",
        unix_timestamp(date_trunc("second", $"ts")).as("ts_s"))
      .withColumn("gap", $"ts_s" - lag($"ts_s", 1).over(w))
      .filter($"gap".isNotNull)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_gaps"),
        min($"gap").as("min_gap"),
        max($"gap").as("max_gap"),
        round(avg($"gap"), 2).as("avg_gap"),
        percentile($"gap", lit(0.5)).as("median_gap"))
      .orderBy($"event_type")
  }

  /** The analytic-window functions q42 left out: percent_rank, cume_dist,
    * nth_value and first/last_value over an explicit full-partition frame.
    * All evaluated in the same single WindowExec pass; the (price,
    * orderkey) ordering is a total order, so every value is deterministic.
    */
  def q107WindowAnalytics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice", $"o_orderkey")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .filter($"o_custkey" % 20 === 0)
      .select(
        $"o_custkey", $"o_orderkey",
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        round(nth_value($"o_totalprice", 2).over(full), 2).as("second_cheapest"),
        round(first_value($"o_totalprice").over(full), 2).as("cheapest"),
        round(last_value($"o_totalprice").over(full), 2).as("priciest"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Array set algebra over token sets (the candidate-overlap primitives
    * under dedup/decontamination): union/intersect/except cardinalities +
    * overlap test between each document's first- and second-half token
    * sets. Sizes only — set order is engine-internal, cardinalities are
    * not. Map-side per row.
    */
  def q108ArraySetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"doc_id" % 10 === 0)
      .select($"doc_id", split($"text", " ", -1).as("toks"))
      .withColumn("h", expr("size(toks) div 2").cast("int"))
      .select($"doc_id",
        array_distinct(slice($"toks", lit(1), $"h")).as("a"),
        array_distinct(expr("slice(toks, h + 1, size(toks) - h)")).as("b"))
      .select($"doc_id",
        size($"a").cast("long").as("n_a"),
        size($"b").cast("long").as("n_b"),
        size(array_union($"a", $"b")).cast("long").as("n_union"),
        size(array_intersect($"a", $"b")).cast("long").as("n_intersect"),
        size(array_except($"a", $"b")).cast("long").as("n_a_only"),
        arrays_overlap($"a", $"b").as("overlaps"))
      .orderBy($"doc_id")
  }

  /** Discrete percentiles (percentile_disc): always an actual data value,
    * never an interpolation — the right quantile for "show me a real
    * example row at p50/p90". Completes the quantile family next to q39's
    * continuous form and q37's sketch.
    */
  def q114PercentileDisc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderpriority")
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("p50_disc"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("p90_disc"),
        count(lit(1)).as("n"))
      .select($"o_orderpriority",
        round($"p50_disc", 2).as("p50_disc"), round($"p90_disc", 2).as("p90_disc"), $"n")
      .orderBy($"o_orderpriority")
  }

  /** Gap-filled daily time series: the generated calendar (q103's shape)
    * LEFT-joined to daily event counts, so days with zero events appear
    * as zeros instead of vanishing — the difference between a correct and
    * a silently-wrong dashboard. The calendar is a generator (broadcast
    * side); the fact aggregates BEFORE the join, so the join sees one row
    * per day, not per event.
    */
  def q115GapFilledDaily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val days = s.range(1).select(explode(expr(
      "sequence(to_date('2024-01-01'), to_date('2024-02-10'), interval 1 day)")).as("d"))
    val daily = graft.Tables.events(s, dir)
      .groupBy(to_date($"ts").as("d"))
      .agg(count(lit(1)).as("n"))
    days.join(daily, Seq("d"), "left_outer")
      .select(
        date_format($"d", "yyyy-MM-dd").as("day"),
        coalesce($"n", lit(0L)).as("n_events"))
      .orderBy($"day")
  }

  /** max_by / min_by with an explicitly UNIQUE ordering key: canonical-row
    * selection per group (longest doc per language; ties broken by
    * doc_id through the composite key) — the survivor-selection idiom for
    * dedup clusters. Plain max_by on a tied key is nondeterministic, the
    * same trap as built-in mode() (q105).
    *
    * The key is the zero-padded `(n_chars, doc_id)` concatenation:
    * lexicographic order on fixed-width digit strings == numeric order, so
    * the key is unique and correctly ordered for ALL non-negative longs —
    * the previous `n_chars * 1e6 + doc_id` arithmetic silently collided
    * once doc_id reached 1e6 (ADVICE r5). Neither engine has a composite
    * (struct) max_by ordering type, so the string spelling is the portable
    * composite key.
    */
  def q116MaxBy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val key = concat(
      lpad($"n_chars".cast("string"), 19, "0"),
      lpad($"doc_id".cast("string"), 19, "0"))
    Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(
        max_by($"doc_id", key).as("longest_doc"),
        min_by($"doc_id", key).as("shortest_doc"),
        max($"n_chars").as("max_chars"),
        count(lit(1)).as("n"))
      .orderBy($"lang")
  }

  /** Bitwise aggregates (bit_or/bit_and/bit_xor): per-entity flag rollups
    * — "which event types has each user-bucket ever produced" as one long
    * per group instead of a distinct-set. Fixed-size mergeable state.
    */
  def q117BitAggs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val flag = when($"event_type" === "click", 1L).when($"event_type" === "view", 2L)
      .when($"event_type" === "purchase", 4L).when($"event_type" === "signup", 8L)
      .otherwise(16L)
    graft.Tables.events(s, dir)
      .select(($"user_id" % 10).as("bucket"), flag.as("f"))
      .groupBy($"bucket")
      .agg(
        bit_or($"f").as("types_seen"),
        bit_and($"f").as("types_always"),
        count(lit(1)).as("n"))
      .orderBy($"bucket")
  }

  /** Array predicate HOFs (exists / forall) + positional ops
    * (array_position, array_remove, array_compact): the membership and
    * cleanup primitives over token arrays that q45's
    * filter/transform/aggregate tier left out. Map-side.
    */
  def q119ArrayPredicates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"doc_id" % 10 === 0)
      .select($"doc_id", split($"text", " ", -1).as("toks"))
      .select($"doc_id",
        exists($"toks", t => length(t) > 10).as("has_long"),
        forall($"toks", t => length(t) < 30).as("all_short"),
        array_position($"toks", "the").cast("long").as("first_the"),
        size(array_remove($"toks", "the")).cast("long").as("n_without_the"),
        size($"toks").cast("long").as("n_toks"))
      .orderBy($"doc_id")
  }

  /** 7-day moving average over the daily event series — the smoothing
    * window every metrics pipeline runs. Aggregate-then-window: the frame
    * operates over one row per day (an already-reduced relation), and the
    * integer daily counts make the averaged sums exact before the one
    * final division. The unpartitioned window's input is CALENDAR-bounded
    * by construction (one row per day: a century of telemetry is ~4·10⁴
    * rows), not data-bounded — the documented-bound case where the
    * single-task window is the correct plan at any corpus scale
    * (VERDICT r6 #6; q68/q128 carry the data-dependent guards). The guard
    * below makes the calendar bound fail LOUDLY if it ever erodes (a
    * sub-daily grain slipping into the groupBy key is the realistic
    * erosion): row_number over the SAME ordering rides the existing
    * WindowExec pass — zero extra sort — and raise_error aborts past
    * MaxWindowDays instead of quietly single-task-sorting a data-sized
    * relation.
    */
  private[graft] val MaxWindowDays = 100000L // ~270 years of daily rows

  def q120MovingAvg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.orderBy($"d").rowsBetween(-6, 0)
    graft.Tables.events(s, dir)
      .groupBy(to_date($"ts").as("d"))
      .agg(count(lit(1)).as("n"))
      .withColumn("_rn", row_number().over(Window.orderBy($"d")).cast("long"))
      .select(
        date_format($"d", "yyyy-MM-dd").as("day"),
        when($"_rn" <= MaxWindowDays, $"n")
          .otherwise(raise_error(concat(
            lit(s"q120: daily series exceeded the calendar bound $MaxWindowDays at row "),
            $"_rn".cast("string"))).cast("long"))
          .as("n"),
        round(avg($"n").over(w), 2).as("ma7"),
        count(lit(1)).over(w).as("window_n"))
      .orderBy($"day")
  }

  /** Date arithmetic breadth (the F-family beyond extraction):
    * date_add / add_months / last_day / months_between / datediff /
    * quarter-trunc — the complete derivation set for date dimension and
    * SLA math. All codegen'd built-ins, map-side.
    */
  def q121DateArithmetic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .filter($"o_orderkey" % 100 === 0)
      .select($"o_orderkey", to_date($"o_orderdate").as("d"))
      .select(
        $"o_orderkey",
        date_format($"d", "yyyy-MM-dd").as("order_day"),
        date_format(date_add($"d", 30), "yyyy-MM-dd").as("due_30d"),
        date_format(add_months($"d", 3), "yyyy-MM-dd").as("plus_3mo"),
        date_format(last_day($"d"), "yyyy-MM-dd").as("month_end"),
        (lit(2002L * 12 + 1) - (year($"d") * 12 + month($"d"))).cast("long").as("months_to_2002"),
        datediff(lit("2002-01-01").cast("date"), $"d").cast("long").as("days_to_2002"),
        date_format(date_trunc("quarter", $"d"), "yyyy-MM-dd").as("quarter_start"))
      .orderBy($"o_orderkey")
  }

  /** Conditional/boolean aggregates (count_if / bool_or / bool_and): the
    * predicate-rollup shorthands — one pass, no CASE scaffolding, same
    * partial+final plan as any algebraic aggregate.
    */
  def q122ConditionalAggs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(
        count_if($"value" > 100.0).as("n_big"),
        count_if($"value" <= 100.0).as("n_small"),
        bool_or($"value" > 400.0).as("any_huge"),
        bool_and($"value" > 0.0).as("all_positive"))
      .orderBy($"event_type")
  }

  /** Pattern-occurrence statistics via regexp_extract_all + size: numeric
    * literals per document rolled up per language — the portable-RE2
    * pattern class shared with the PII scrubber (q70). Map-side counts,
    * one rollup.
    */
  def q123NumberExtraction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"lang",
        size(regexp_extract_all($"text", lit("[0-9]+"), lit(0))).cast("long").as("n_nums"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_nums").as("total_nums"),
        max($"n_nums").as("max_nums"),
        count_if($"n_nums" > 0).as("docs_with_nums"))
      .orderBy($"lang")
  }

  /** Catalog tables + statistics for the CBO tier, built once per
    * (process, sf dir): the four chain-join tables copied to pid-scoped
    * catalog names, then `ANALYZE TABLE … COMPUTE STATISTICS FOR
    * COLUMNS` over every join/filter column — rowCount + ndv + min/max
    * in the session catalog, the inputs cost-based join reordering
    * needs. Pid-scoped names keep concurrent JVMs off each other's
    * warehouse files (the in-memory catalog is per-process anyway).
    */
  private val cboBuilt = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def cboPrefix(s: SparkSession, dir: String): String =
    cboBuilt.computeIfAbsent(dir, { _ =>
      val pre = s"graft_cbo_${graft.Scratch.tag(dir)}_p${ProcessHandle.current.pid}"
      val cols = Map(
        "region" -> "r_regionkey, r_name",
        "nation" -> "n_nationkey, n_regionkey",
        "customer" -> "c_custkey, c_nationkey",
        "orders" -> "o_custkey, o_orderpriority, o_totalprice")
      Seq("region" -> Tables.region(s, dir), "nation" -> Tables.nation(s, dir),
        "customer" -> Tables.customer(s, dir), "orders" -> Tables.orders(s, dir))
        .foreach { case (name, df) =>
          df.write.mode("overwrite").saveAsTable(s"${pre}_$name")
          s.sql(s"ANALYZE TABLE ${pre}_$name COMPUTE STATISTICS FOR COLUMNS ${cols(name)}")
        }
      pre
    })

  /** The histogram-stats tier's table pair, built once per (process, sf
    * dir): the SAME events relation copied twice, one analyzed with
    * plain column stats (min/max/ndv), one with
    * `spark.sql.statistics.histogram.enabled` (equi-height histogram on
    * `value`). Two tables because the point IS the comparison: the
    * histogram is the only difference CboSpec's estimate-accuracy law
    * measures.
    */
  private val histBuilt = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def histPrefix(s: SparkSession, dir: String): String =
    histBuilt.computeIfAbsent(dir, { _ =>
      val pre = s"graft_hist_${graft.Scratch.tag(dir)}_p${ProcessHandle.current.pid}"
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
      ev.write.mode("overwrite").saveAsTable(s"${pre}_plain")
      ev.write.mode("overwrite").saveAsTable(s"${pre}_hist")
      s.sql(s"ANALYZE TABLE ${pre}_plain COMPUTE STATISTICS FOR COLUMNS value")
      graft.Session.withConf(s, "spark.sql.statistics.histogram.enabled" -> "true") {
        s.sql(s"ANALYZE TABLE ${pre}_hist COMPUTE STATISTICS FOR COLUMNS value")
      }
      pre
    })

  /** The selectivity probe both the registered query and CboSpec use:
    * `value < 35` keeps ~half the rows of the right-skewed value column,
    * while the uniform (min/max interpolation) assumption estimates
    * ~10% — the ~5× error class equi-height histograms exist to fix.
    */
  private[graft] val HistProbeSql = "value < 35.0D"

  /** Histogram statistics under the oracle gate (the CBO tier's second
    * half next to q206's join reorder): ANALYZE with equi-height
    * histograms, then a range-filtered rollup over the skewed column.
    * The ANSWER is estimate-independent (that is the oracle's point);
    * what the histogram changes is the OPTIMIZER'S CARDINALITY
    * ESTIMATE, which CboSpec states as a law — the histogram-based
    * filter estimate lands within 2× of the true count while the
    * uniform-assumption estimate misses by >3× on this distribution. At
    * 100 TB that estimate decides join strategies and AQE targets;
    * histograms are how a skewed column stops lying to the planner.
    */
  def q210HistogramStats(s: SparkSession, dir: String): DataFrame = {
    val pre = histPrefix(s, dir)
    s.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         |FROM ${pre}_hist WHERE $HistProbeSql
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** The deliberately WORST syntactic join order for the region chain —
    * fact first, the 1-row filtered dimension last. Without CBO the
    * optimizer keeps this order (largest intermediates throughout); with
    * table/column statistics and `spark.sql.cbo.joinReorder` the DP
    * reorderer rebuilds the tree from the filtered dimension outward so
    * every intermediate stays dimension-sized. Single-sourced: the spec
    * asserts the reorder on exactly the SQL the registered query runs.
    */
  private[graft] def cboJoinSql(pre: String): String =
    s"""SELECT r_name, count(*) AS n_orders,
       |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       |  count(DISTINCT c_custkey) AS n_cust
       |FROM ${pre}_orders o
       |JOIN ${pre}_customer c ON o.o_custkey = c.c_custkey
       |JOIN ${pre}_nation n ON c.c_nationkey = n.n_nationkey
       |JOIN ${pre}_region r ON n.n_regionkey = r.r_regionkey
       |WHERE r.r_name = 'ASIA' AND o.o_orderpriority = '1-URGENT'
       |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** Cost-based optimization — the last untouched optimizer surface
    * (VERDICT r11 next #5): `ANALYZE TABLE` statistics feeding
    * `spark.sql.cbo.joinReorder`. The query text commits the classic
    * mistake (fact joined first, the one-row region filter last); with
    * column stats the DP join reorderer rewrites it to build from the
    * filtered dimension outward, which at 100 TB is the difference
    * between shuffling the fact against the full customer table and
    * probing it with a region-bounded broadcast. The plan is FORCED
    * while the CBO flags are set ([[graft.Materialize]] materializes the
    * result), then every flag is restored — session hygiene — and the
    * oracle gates the ANSWER, which must be identical under any join
    * order. CboSpec pins the reorder itself (leaf order with stats+CBO
    * differs from the syntactic plan, fact joined last) and that the
    * catalog carries rowCounts.
    */
  def q206CboJoinReorder(s: SparkSession, dir: String): DataFrame = {
    val pre = cboPrefix(s, dir)
    // materialize UNDER the CBO flags: a lazy return would re-optimize at
    // action time (possibly after restore) and silently lose the reorder
    graft.Session.withConf(s, CboFlags.map(_ -> "true"): _*) {
      Materialize(s.sql(cboJoinSql(pre)), "q206 result")
    }
  }

  /** The two flags the cost-based join reorder needs. */
  private[graft] val CboFlags = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q206_cbo_join_reorder" -> (q206CboJoinReorder _),
    "q210_histogram_stats" -> (q210HistogramStats _),
    "q121_date_arithmetic" -> (q121DateArithmetic _),
    "q122_conditional_aggs" -> (q122ConditionalAggs _),
    "q123_number_extraction" -> (q123NumberExtraction _),
    "q119_array_predicates" -> (q119ArrayPredicates _),
    "q120_moving_avg" -> (q120MovingAvg _),
    "q114_percentile_disc" -> (q114PercentileDisc _),
    "q131_approx_quantiles" -> (q131ApproxQuantiles _),
    "q115_gap_filled_daily" -> (q115GapFilledDaily _),
    "q116_max_by" -> (q116MaxBy _),
    "q117_bit_aggs" -> (q117BitAggs _),
    "q107_window_analytics" -> (q107WindowAnalytics _),
    "q108_array_setops" -> (q108ArraySetOps _),
    "q105_mode" -> (q105Mode _),
    "q106_event_gaps" -> (q106EventGaps _),
    "q104_regression_aggs" -> (q104RegressionAggs _),
    "q98_null_safe_join" -> (q98NullSafeJoin _),
    "q99_try_funcs" -> (q99TryFuncs _),
    "q93_range_frame" -> (q93RangeFrame _),
    "q94_lateral" -> (q94Lateral _),
    "q177_recursive_cte" -> (q177RecursiveCte _),
    "q183_sql_udf" -> (q183SqlUdf _),
    "q184_sql_table_fn" -> (q184SqlTableFn _),
    "q185_pipe_syntax" -> (q185PipeSyntax _),
    "q196_sql_scripting" -> (q196SqlScripting _),
    "q197_hll_sketch_union" -> (q197HllSketchUnion _),
    "q84_funnel" -> (q84Funnel _),
    "q85_profile" -> (q85Profile _),
    "q86_ntile" -> (q86Ntile _),
    "q87_group_samples" -> (q87GroupSamples _),
    "q71_unpivot" -> (q71Unpivot _),
    "q72_grouping_sets" -> (q72GroupingSets _),
    "q74_stats_agg" -> (q74StatsAgg _),
    "q52_skew_agg" -> (q52SkewAgg _),
    "q42_window_suite" -> (q42WindowSuite _),
    "q43_string_funcs" -> (q43StringFuncs _),
    "q44_cube" -> (q44Cube _),
    "q45_array_hof" -> (q45ArrayHof _),
    "q39_quantiles" -> (q39Quantiles _),
    "q37_approx_distinct" -> (q37ApproxDistinct _),
    "q30_rollup" -> (q30Rollup _),
    "q31_pivot" -> (q31Pivot _),
    "q32_semi_anti" -> (q32SemiAnti _),
    "q33_asof_join" -> (q33AsofJoin _),
    "q171_asof_native" -> (q171AsofNative _),
  )

  val oracles: Map[String, String] = Map(
    "q210_histogram_stats" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE value < 35.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // any join order must produce this — the oracle states the answer,
    // CboSpec states the plan
    "q206_cbo_join_reorder" ->
      """SELECT r_name, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  count(DISTINCT c_custkey) AS n_cust
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA' AND o.o_orderpriority = '1-URGENT'
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q121_date_arithmetic" ->
      """WITH t AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        |  FROM orders WHERE o_orderkey % 100 = 0
        |)
        |SELECT o_orderkey,
        |  strftime(d, '%Y-%m-%d') AS order_day,
        |  strftime(d + 30, '%Y-%m-%d') AS due_30d,
        |  strftime(CAST(d + INTERVAL 3 MONTH AS DATE), '%Y-%m-%d') AS plus_3mo,
        |  strftime(last_day(d), '%Y-%m-%d') AS month_end,
        |  CAST((2002 * 12 + 1) - (year(d) * 12 + month(d)) AS BIGINT) AS months_to_2002,
        |  CAST(date_diff('day', d, DATE '2002-01-01') AS BIGINT) AS days_to_2002,
        |  strftime(CAST(date_trunc('quarter', d) AS DATE), '%Y-%m-%d') AS quarter_start
        |FROM t ORDER BY o_orderkey""".stripMargin,
    "q122_conditional_aggs" ->
      """SELECT event_type,
        |  CAST(count(*) FILTER (value > 100.0) AS BIGINT) AS n_big,
        |  CAST(count(*) FILTER (value <= 100.0) AS BIGINT) AS n_small,
        |  bool_or(value > 400.0) AS any_huge,
        |  bool_and(value > 0.0) AS all_positive
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q123_number_extraction" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_nums
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_nums) AS BIGINT) AS total_nums,
        |  CAST(max(n_nums) AS BIGINT) AS max_nums,
        |  CAST(count(*) FILTER (n_nums > 0) AS BIGINT) AS docs_with_nums
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "q119_array_predicates" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id % 10 = 0
        |)
        |SELECT doc_id,
        |  len(list_filter(toks, x -> length(x) > 10)) > 0 AS has_long,
        |  len(list_filter(toks, x -> NOT (length(x) < 30))) = 0 AS all_short,
        |  CAST(coalesce(list_position(toks, 'the'), 0) AS BIGINT) AS first_the,
        |  CAST(len(list_filter(toks, x -> x != 'the')) AS BIGINT) AS n_without_the,
        |  CAST(len(toks) AS BIGINT) AS n_toks
        |FROM t ORDER BY doc_id""".stripMargin,
    "q120_moving_avg" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1
        |)
        |SELECT strftime(d, '%Y-%m-%d') AS day, n,
        |  round(avg(n) OVER w, 2) AS ma7,
        |  count(*) OVER w AS window_n
        |FROM daily
        |WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,
    "q114_percentile_disc" ->
      """SELECT o_orderpriority,
        |  round(quantile_disc(o_totalprice, 0.5), 2) AS p50_disc,
        |  round(quantile_disc(o_totalprice, 0.9), 2) AS p90_disc,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q115_gap_filled_daily" ->
      """WITH days AS (
        |  SELECT CAST(d AS DATE) AS d
        |  FROM generate_series(DATE '2024-01-01', DATE '2024-02-10', INTERVAL 1 DAY) AS t(d)
        |), daily AS (
        |  SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1
        |)
        |SELECT strftime(days.d, '%Y-%m-%d') AS day,
        |  CAST(coalesce(daily.n, 0) AS BIGINT) AS n_events
        |FROM days LEFT JOIN daily ON days.d = daily.d
        |ORDER BY day""".stripMargin,
    "q116_max_by" ->
      """SELECT lang,
        |  max_by(doc_id, lpad(CAST(n_chars AS VARCHAR), 19, '0')
        |    || lpad(CAST(doc_id AS VARCHAR), 19, '0')) AS longest_doc,
        |  min_by(doc_id, lpad(CAST(n_chars AS VARCHAR), 19, '0')
        |    || lpad(CAST(doc_id AS VARCHAR), 19, '0')) AS shortest_doc,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  count(*) AS n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q117_bit_aggs" ->
      """WITH f AS (
        |  SELECT user_id % 10 AS bucket,
        |    CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
        |      WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END AS fl
        |  FROM events
        |)
        |SELECT bucket,
        |  CAST(bit_or(fl) AS BIGINT) AS types_seen,
        |  CAST(bit_and(fl) AS BIGINT) AS types_always,
        |  count(*) AS n
        |FROM f GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q107_window_analytics" ->
      """SELECT o_custkey, o_orderkey,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  round(nth_value(o_totalprice, 2) OVER wf, 2) AS second_cheapest,
        |  round(first_value(o_totalprice) OVER wf, 2) AS cheapest,
        |  round(last_value(o_totalprice) OVER wf, 2) AS priciest
        |FROM orders WHERE o_custkey % 20 = 0
        |WINDOW
        |  w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q108_array_setops" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) // 2 AS INTEGER) AS h
        |  FROM documents WHERE doc_id % 10 = 0
        |), ab AS (
        |  SELECT doc_id,
        |    list_distinct(toks[1:h]) AS a,
        |    list_distinct(toks[h+1:len(toks)]) AS b
        |  FROM t
        |)
        |SELECT doc_id,
        |  CAST(len(a) AS BIGINT) AS n_a,
        |  CAST(len(b) AS BIGINT) AS n_b,
        |  CAST(len(list_distinct(list_concat(a, b))) AS BIGINT) AS n_union,
        |  CAST(len(list_intersect(a, b)) AS BIGINT) AS n_intersect,
        |  CAST(len(list_filter(a, x -> NOT list_contains(b, x))) AS BIGINT) AS n_a_only,
        |  len(list_intersect(a, b)) > 0 AS overlaps
        |FROM ab ORDER BY doc_id""".stripMargin,
    "q105_mode" ->
      """SELECT o_orderstatus, mode_priority, n FROM (
        |  SELECT o_orderstatus, o_orderpriority AS mode_priority, count(*) AS n,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |                       ORDER BY count(*) DESC, o_orderpriority DESC) AS rn
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority
        |) WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,
    "q106_event_gaps" ->
      """WITH t AS (
        |  SELECT event_id, event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
        |  FROM events
        |), g AS (
        |  SELECT event_type,
        |    ts_s - lag(ts_s, 1) OVER (PARTITION BY event_type
        |                              ORDER BY ts_s, event_id) AS gap
        |  FROM t
        |)
        |SELECT event_type, count(*) AS n_gaps,
        |  CAST(min(gap) AS BIGINT) AS min_gap,
        |  CAST(max(gap) AS BIGINT) AS max_gap,
        |  round(avg(gap), 2) AS avg_gap,
        |  quantile_cont(gap, 0.5) AS median_gap
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q104_regression_aggs" ->
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q98_null_safe_join" ->
      """WITH c AS (SELECT nullif(c_nationkey % 7, 0) AS ck FROM customer),
        |s AS (SELECT nullif(s_nationkey % 7, 0) AS sk FROM supplier)
        |SELECT coalesce(CAST(ck AS VARCHAR), '(null)') AS key, count(*) AS n_pairs
        |FROM c JOIN s ON c.ck IS NOT DISTINCT FROM s.sk
        |GROUP BY key ORDER BY key""".stripMargin,
    "q99_try_funcs" ->
      """SELECT c_custkey,
        |  TRY_CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS parsed_id,
        |  CASE WHEN c_custkey % 3 = 0 THEN NULL
        |       ELSE 100.0 / (c_custkey % 3) END AS inv3,
        |  string_split(c_name, '#')[3] AS missing_part,
        |  string_split(c_name, '#')[2] AS id_part
        |FROM customer WHERE c_custkey % 25 = 0 ORDER BY c_custkey""".stripMargin,
    "q93_range_frame" ->
      """WITH t AS (
        |  SELECT o_custkey, o_orderkey, epoch(o_orderdate) AS epoch_s,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey % 10 = 0
        |)
        |SELECT o_custkey, o_orderkey,
        |  count(*) OVER w AS n_nearby,
        |  CAST(sum(cents) OVER w AS BIGINT) / 100.0 AS nearby_value
        |FROM t
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_s
        |             RANGE BETWEEN 1296000 PRECEDING AND 1296000 FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q94_lateral" ->
      """SELECT c.c_custkey, o.o_orderkey, round(o.o_totalprice, 2) AS price
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        |) o
        |WHERE c.c_custkey % 50 = 0
        |ORDER BY c.c_custkey, price DESC, o.o_orderkey""".stripMargin,
    // DuckDB's // is Spark's div; the guard keeps DuckDB's default
    // unbounded recursion finite exactly like Spark's level limit
    "q177_recursive_cte" ->
      """WITH RECURSIVE chain AS (
        |  SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM customer
        |  UNION ALL
        |  SELECT ch.node, p.c_custkey AS cur, ch.depth + 1
        |  FROM chain ch JOIN customer p ON p.c_custkey = ch.cur // 10
        |  WHERE ch.cur >= 10
        |)
        |SELECT CAST(depth AS BIGINT) AS depth, count(*) AS n_customers,
        |  CAST(sum(cur) AS BIGINT) AS root_key_sum,
        |  CAST(sum(node) AS BIGINT) AS node_key_sum
        |FROM chain WHERE cur < 10
        |GROUP BY depth ORDER BY depth""".stripMargin,
    // the oracle IS the inlined form of the two SQL functions — proving
    // the analyzer's inlining computes exactly the declared arithmetic
    "q183_sql_udf" ->
      """SELECT year(l_shipdate) AS ship_year, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS net_revenue,
        |  round(sum(l_extendedprice - l_extendedprice * (1 - l_discount) * (1 + 0)), 2)
        |    AS discount_given
        |FROM lineitem
        |GROUP BY ship_year ORDER BY ship_year""".stripMargin,
    // the decorrelated join the lateral table-function call must plan to
    "q184_sql_table_fn" ->
      """SELECT c.c_custkey, count(*) AS n_big,
        |  round(max(round(o.o_totalprice, 2)), 2) AS max_price,
        |  min(o.o_orderkey) AS min_orderkey
        |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |WHERE c.c_custkey % 50 = 0 AND o.o_totalprice > 150000
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin,
    // the standard-SQL spelling of the pipe dataflow — identical plan
    "q185_pipe_syntax" ->
      """SELECT l_returnflag AS flag, l_linestatus AS status, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem WHERE l_quantity > 10
        |GROUP BY flag, status ORDER BY flag, status""".stripMargin,
    // the bisection fixed point has a closed form: the smallest integer
    // cents value keeping ≤ ⌊n/10⌋ orders above it is the (⌊n/10⌋+1)-th
    // LARGEST cents value (counts only jump at observed prices); the trip
    // count is the bracket-width constant log₂(2^26)
    "q196_sql_scripting" ->
      s"""WITH n AS (SELECT count(*) // 10 AS target FROM orders),
         |c AS (
         |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
         |    row_number() OVER (ORDER BY round(o_totalprice * 100) DESC) AS rn
         |  FROM orders
         |), thr AS (
         |  SELECT c FROM c WHERE rn = (SELECT target + 1 FROM n)
         |)
         |SELECT o_orderpriority, count(*) AS n_orders,
         |  round(sum(o_totalprice), 2) AS revenue,
         |  (SELECT c FROM thr) AS thr_cents,
         |  CAST($BisectionSteps AS BIGINT) AS n_bisections
         |FROM orders
         |WHERE CAST(round(o_totalprice * 100) AS BIGINT) > (SELECT c FROM thr)
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // estimates collapse to the deterministic verdict (q37's pattern);
    // DuckDB recomputes the exact side, per group and for the union row
    "q197_hll_sketch_union" ->
      """SELECT o_orderpriority AS grp,
        |  count(DISTINCT o_custkey) AS exact_d, TRUE AS within_bound
        |FROM orders GROUP BY o_orderpriority
        |UNION ALL
        |SELECT '(all)', count(DISTINCT o_custkey), TRUE FROM orders
        |ORDER BY grp""".stripMargin,
    "q84_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, date_trunc('second', ts) AS ts_s FROM events
        |), st AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts_s END) AS v_ts,
        |    min(CASE WHEN event_type = 'click' THEN ts_s END) AS c_ts,
        |    min(CASE WHEN event_type = 'purchase' THEN ts_s END) AS p_ts
        |  FROM ev GROUP BY user_id
        |), f AS (
        |  SELECT CASE
        |    WHEN v_ts IS NULL THEN 0
        |    WHEN c_ts IS NULL OR c_ts <= v_ts THEN 1
        |    WHEN p_ts IS NULL OR p_ts <= c_ts THEN 2
        |    ELSE 3 END AS funnel_stage
        |  FROM st
        |)
        |SELECT funnel_stage, count(*) AS n_users
        |FROM f GROUP BY funnel_stage ORDER BY funnel_stage""".stripMargin,
    "q85_profile" ->
      """SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  count(DISTINCT o_custkey) AS n_distinct,
        |  min(CAST(o_custkey AS VARCHAR)) AS min_str, max(CAST(o_custkey AS VARCHAR)) AS max_str
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*),
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_orderpriority),
        |  min(o_orderpriority), max(o_orderpriority)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*),
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_orderstatus),
        |  min(o_orderstatus), max(o_orderstatus)
        |FROM orders
        |ORDER BY column_name""".stripMargin,
    "q86_ntile" ->
      """WITH t AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    ntile(4) OVER (PARTITION BY o_orderpriority
        |                   ORDER BY o_totalprice, o_orderkey) AS quartile
        |  FROM orders
        |)
        |SELECT o_orderpriority, quartile, count(*) AS n,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM t GROUP BY o_orderpriority, quartile
        |ORDER BY o_orderpriority, quartile""".stripMargin,
    "q87_group_samples" ->
      """SELECT c_mktsegment,
        |  count(DISTINCT c_nationkey) AS n_nations,
        |  array_to_string(list_sort(list_distinct(array_agg(c_nationkey)))[1:5], ',')
        |    AS sample_nations
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q71_unpivot" ->
      """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
        |FROM part WHERE p_partkey % 25 = 0
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice', p_retailprice
        |FROM part WHERE p_partkey % 25 = 0
        |ORDER BY p_partkey, metric""".stripMargin,
    "q72_grouping_sets" ->
      """SELECT coalesce(o_orderpriority, '(all)') AS priority,
        | coalesce(o_orderstatus, '(all)') AS status,
        | CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT) AS gid,
        | count(*) AS n, round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, priority, status""".stripMargin,
    "q74_stats_agg" ->
      """SELECT l_returnflag,
        | round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        | round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
        | round(stddev_samp(l_quantity), 4) AS qty_stddev,
        | round(var_pop(l_quantity), 4) AS qty_var_pop,
        | round(avg(l_discount), 4) AS avg_discount
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q52_skew_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        | count(*) AS n, count(DISTINCT l_partkey) AS n_distinct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q44_cube" ->
      """SELECT coalesce(l_returnflag, '(all)') AS rf,
        | coalesce(l_linestatus, '(all)') AS ls,
        | CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        | count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin,
    "q45_array_hof" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 10 = 0)
        |SELECT doc_id,
        | CAST(len(list_filter(toks, x -> length(x) > 4)) AS BIGINT) AS n_long_tokens,
        | CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total_chars,
        | array_to_string(list_transform(toks, x -> upper(x))[1:3], '|') AS first3_upper
        |FROM t ORDER BY doc_id""".stripMargin,
    "q42_window_suite" ->
      """SELECT o_custkey, o_orderkey,
        | round(o_totalprice, 2) AS price,
        | round(lag(o_totalprice, 1) OVER w_date, 2) AS prev_price,
        | round(lead(o_totalprice, 1) OVER w_date, 2) AS next_price,
        | rank() OVER w_price AS price_rank,
        | dense_rank() OVER w_price AS price_dense_rank,
        | round(sum(o_totalprice) OVER (w_date ROWS UNBOUNDED PRECEDING), 2) AS running_total
        |FROM orders WHERE o_custkey % 10 = 0
        |WINDOW
        | w_date AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        | w_price AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q43_string_funcs" ->
      """SELECT p_partkey,
        | lpad(p_brand, 12, '*') AS brand_lpad,
        | rpad(p_brand, 12, '#') AS brand_rpad,
        | trim(' pad ', ' ') AS trimmed,
        | regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        | substr(p_name, 1, 8) AS name_prefix,
        | instr(p_type, 'BRASS') AS brass_pos,
        | reverse(p_brand) AS brand_rev,
        | repeat('ab', 3) AS repeated,
        | length(p_name) AS name_len
        |FROM part WHERE p_partkey % 20 = 0 ORDER BY p_partkey""".stripMargin,
    "q39_quantiles" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.5) AS median,
        | quantile_cont(l_quantity, 0.9) AS p90,
        | round(avg(l_quantity), 4) AS mean
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the deterministic halves of the sketch verdicts: DuckDB recomputes
    // the exact side and expects within_bound=true — the sketch estimate
    // itself stays engine-side, collapsed into the boolean
    "q37_approx_distinct" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS exact_d,
        | TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q131_approx_quantiles" ->
      """SELECT l_returnflag, count(*) AS n,
        | quantile_cont(l_quantity, 0.5) AS exact_median,
        | quantile_cont(l_quantity, 0.9) AS exact_p90,
        | TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q30_rollup" ->
      """SELECT coalesce(l_returnflag, '(all)') AS rf,
        | coalesce(l_linestatus, '(all)') AS ls,
        | count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q31_pivot" ->
      """SELECT l_linestatus,
        | count(*) FILTER (l_returnflag = 'A') AS "A",
        | count(*) FILTER (l_returnflag = 'N') AS "N",
        | count(*) FILTER (l_returnflag = 'R') AS "R"
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q32_semi_anti" ->
      """SELECT 'with_orders' AS tag, c_mktsegment, count(*) AS n
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment
        |UNION ALL
        |SELECT 'no_orders', c_mktsegment, count(*)
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment
        |ORDER BY tag, c_mktsegment""".stripMargin,
    "q33_asof_join" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('second', ts) AS ts_s, event_id, event_type FROM events
        |), err AS (
        |  SELECT user_id, ts_s, event_id FROM ev WHERE event_type = 'error'
        |), p AS (
        |  SELECT DISTINCT user_id, ts_s AS p_ts FROM ev WHERE event_type = 'purchase'
        |)
        |SELECT e.event_id, e.user_id,
        |  strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS last_purchase
        |FROM err e ASOF LEFT JOIN p
        |  ON e.user_id = p.user_id AND p.p_ts <= e.ts_s
        |ORDER BY e.event_id""".stripMargin,
    // identical oracle: q171 is q33 through the native operator
    "q171_asof_native" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('second', ts) AS ts_s, event_id, event_type FROM events
        |), err AS (
        |  SELECT user_id, ts_s, event_id FROM ev WHERE event_type = 'error'
        |), p AS (
        |  SELECT DISTINCT user_id, ts_s AS p_ts FROM ev WHERE event_type = 'purchase'
        |)
        |SELECT e.event_id, e.user_id,
        |  strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS last_purchase
        |FROM err e ASOF LEFT JOIN p
        |  ON e.user_id = p.user_id AND p.p_ts <= e.ts_s
        |ORDER BY e.event_id""".stripMargin,
  )
}
