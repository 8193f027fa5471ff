package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}

/** Join shapes that only matter once the fact table is big: the multi-way
  * star join (the plan a 1000-executor cluster runs all day), the
  * runtime-bloom-prefiltered join (Spark's injected semi-join filter), the
  * bucketed co-located join (the zero-shuffle layout for repeated joins),
  * and a per-group outlier filter whose moments are computed from exact
  * integer sums so the oracle hash is stable.
  */
object ScaleQueries {

  /** Star join, TPC-H Q5 shape: revenue per nation for one region + one
    * order-date year, joining the fact (`lineitem`) through `orders`,
    * `customer`, `supplier` with the classic locality constraint
    * c_nationkey = s_nationkey.
    *
    * Declared in the order that scales: region (5 rows) filters nation
    * (25 rows) under an explicit broadcast, the tiny result broadcasts
    * into `customer` (shrinking it 5×) before the fact joins. The
    * lineitem⋈orders and ⋈customer joins shuffle on their keys at 100 TB
    * (AQE upgrades them to broadcast at test scale); supplier is left to
    * the planner — broadcast-able per-executor at small SF, shuffle join
    * beyond `autoBroadcastJoinThreshold`. The date filter sits on `orders`
    * before its join, so pushdown reaches the scan.
    */
  def q76StarJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val asiaNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val cust = Tables.customer(s, dir)
      .join(broadcast(asiaNations), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_nationkey", $"n_name")
    val ord = Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit("1996-01-01") && $"o_orderdate" < lit("1997-01-01"))
      .select($"o_orderkey", $"o_custkey")
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(Tables.supplier(s, dir),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .groupBy($"n_name")
      .agg(
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** Runtime-filter join: fact scan pre-filtered by the dim's join keys
    * before the join's own shuffle. The declarative query is a plain
    * selective-dim equi-join — Spark's optimizer injects the bloom
    * (`BloomFilterMightContain` over a `bloom_filter_agg` of the dim keys)
    * when `spark.sql.optimizer.runtime.bloomFilter.enabled` is on, so
    * non-matching fact rows die at the scan instead of crossing the wire.
    * ScaleQueriesSpec asserts the injected filter appears in the physical
    * plan under bench-shaped thresholds; the oracle verifies the join
    * result itself (identical with or without the filter — that is the
    * point of a runtime filter).
    */
  def q77RuntimeFilterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = Tables.part(s, dir)
      .filter($"p_type" === "SMALL" && $"p_size" <= 10)
      .select($"p_partkey", $"p_size")
    Tables.lineitem(s, dir)
      .join(dim, $"l_partkey" === $"p_partkey")
      .groupBy($"p_size")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum($"l_quantity"), 2).as("sum_qty"))
      .orderBy($"p_size")
  }

  /** Bucketed co-located join: both sides written `bucketBy(8, key)` +
    * `sortBy(key)` into managed tables, then joined on the bucket key —
    * the physical plan is a sort-merge join with NO exchange and no sort
    * on either side (ScaleQueriesSpec asserts both). This is the layout
    * answer to "this join runs every hour at 100 TB": pay the shuffle once
    * at write time, never again at read time. Bucket count is 8 here to
    * match test cores; at scale it is sized so one bucket ≈ one task's
    * memory.
    */
  def q81BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // md5 path tag: abs(hashCode) collides across dirs (and stays negative
    // on Int.MinValue), which let two sf dirs clobber each other's tables
    // through the recursive delete below (ADVICE r5)
    val tag = graft.Scratch.tag(dir)
    val ordersTbl = s"graft_bkt_orders_$tag"
    val itemsTbl = s"graft_bkt_items_$tag"
    // the in-memory catalog forgets tables across sessions but the
    // warehouse directory persists — clear both or the CTAS refuses
    // (LOCATION_ALREADY_EXISTS)
    for (t <- Seq(ordersTbl, itemsTbl)) {
      s.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), t)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    // repartition(8, key) matches the bucket hash-partitioning, so each
    // task holds exactly one bucket → ONE file per bucket. That is both
    // the layout a reader wants and what lets Spark trust the sortBy
    // order and drop the merge-join Sort (multi-file buckets re-sort).
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .repartition(8, $"o_orderkey")
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(ordersTbl)
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_quantity")
      .repartition(8, $"l_orderkey")
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(itemsTbl)
    s.table(itemsTbl)
      .join(s.table(ordersTbl), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum($"l_quantity"), 2).as("sum_qty"))
      .orderBy($"o_orderstatus")
  }

  /** Per-group z-score outlier filter (the "drop anomalous measurements"
    * pass a feature pipeline runs before training). Group moments come
    * from EXACT integer sums of the 2-decimal values scaled ×100 — count,
    * Σv, Σv² are integers, so mean/stddev and every z-score are the same
    * double in any engine and any summation order; the usual
    * float-aggregation nondeterminism never enters. The 3-row stats side
    * broadcasts back onto the events scan, so the filter itself is
    * map-side.
    */
  def q82GroupOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", round($"value" * 100).cast("long").as("v100"))
    val stats = ev.groupBy($"event_type").agg(
      count(lit(1)).as("n"),
      sum($"v100").as("s1"),
      sum($"v100" * $"v100").as("s2"))
    val withZ = ev.join(broadcast(stats), "event_type")
      .withColumn("mean", $"s1".cast("double") / $"n")
      .withColumn("std",
        sqrt($"s2".cast("double") / $"n" - ($"s1".cast("double") / $"n") * ($"s1".cast("double") / $"n")))
      .withColumn("z", ($"v100".cast("double") - $"mean") / $"std")
    withZ.filter(abs($"z") > 2.0)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_outliers"),
        round(min($"z"), 4).as("min_z"),
        round(max($"z"), 4).as("max_z"))
      .orderBy($"event_type")
  }

  /** CDC compaction / latest-wins upsert: a base snapshot unioned with two
    * synthetic update batches (derived deterministically from the data),
    * compacted to one current row per key by max version — the MERGE-INTO
    * read path of a lake without a table format. One shuffle on the key
    * for the per-key window; at 100 TB the base would be bucketed by key
    * (q81's layout) and the window becomes bucket-local. The top-1-row
    * filter is the WindowGroupLimit shape — Spark pushes the rn=1 limit
    * into the sort, so no partition materializes fully ranked rows.
    */
  def q91LatestWins(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    val base = o.withColumn("version", lit(0L))
    // the synthetic update bumps the price by exactly $5 via integer
    // cents — a ×1.1-then-round derivation is NOT engine-portable (the
    // 2-decimal rounding of a long binary expansion is boundary-sensitive)
    val u1 = o.filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", lit("U").as("o_orderstatus"),
        ((round($"o_totalprice" * 100).cast("long") + 500L) / 100.0).as("o_totalprice"),
        lit(1L).as("version"))
    val u2 = o.filter($"o_orderkey" % 100 === 0)
      .select($"o_orderkey", lit("D").as("o_orderstatus"),
        lit(0.0).as("o_totalprice"), lit(2L).as("version"))
    val w = Window.partitionBy($"o_orderkey").orderBy($"version".desc)
    base.unionByName(u1).unionByName(u2)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("total_price"),
        sum($"version").as("version_sum"))
      .orderBy($"o_orderstatus")
  }

  /** Dynamic partition pruning, exercised and plan-pinned (SURVEY §4's
    * to-preserve list): the fact is the hive-partitioned lake (orders
    * rewritten `partitionBy(o_year)`), the dim is a per-year rollup
    * filtered on its COUNT — a data-dependent predicate on a non-key
    * attribute (parity stands in for any post-aggregation audit flag), so
    * `InferFiltersFromConstraints` cannot derive any static `o_year`
    * filter and the only way the fact scan avoids reading every year's
    * files is Catalyst's injected DPP subquery: the dim's broadcast result
    * prunes the fact's partition list at RUNTIME.
    * ScaleQueriesSpec asserts the `dynamicpruning` expression on the scan
    * and that the scan's partition count equals the dim's year count, not
    * the table's; the oracle verifies the join result itself. At 100 TB
    * this is the difference between scanning the whole fact and scanning
    * the partitions the dim selects — the reason partitioned layouts
    * exist. (The dim predicate must stay a plain Filter: a window-derived
    * dim defeats the planner's broadcast-reuse matching and the pruning
    * expression degrades to a no-op `true` — measured here.)
    */
  def q133DppStarProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = graft.Scratch.path(s"dpp_lake_${graft.Scratch.tag(dir)}")
    Tables.orders(s, dir)
      .withColumn("o_year", year($"o_orderdate"))
      .repartition($"o_year")
      .write.mode("overwrite").partitionBy("o_year").parquet(out)
    val dim = Tables.orders(s, dir)
      .groupBy(year($"o_orderdate").as("yr"))
      .agg(count(lit(1)).as("n_orders"))
      .filter($"n_orders" % 2 === 1)
    // explicit broadcast: the dim is calendar-bounded (≤ tens of year
    // rows at ANY corpus size) but sits behind an aggregate, whose
    // unknown static size estimate would otherwise push the planner to a
    // shuffle join — and DPP only prunes for free when it can reuse the
    // join's own broadcast (reuseBroadcastOnly default); without the hint
    // the pruning expression degrades to the no-op `true` literal.
    Tables.parquetStable(s, out, Seq(out))
      .join(broadcast(dim), $"o_year" === $"yr")
      .groupBy($"yr".cast("long").as("yr"))
      .agg(
        count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("total_price"))
      .orderBy($"yr")
  }

  /** Salted join under TOTAL key skew: `l_returnflag` has three values, so
    * a plain shuffle join lands the entire fact on three tasks;
    * [[graft.operators.Salting.saltedJoin]] spreads each key over 8 salt
    * partitions by replicating the (3-row) build side — the skew rewrite
    * for the case AQE's skew-split doesn't cover (build side too wide to
    * broadcast, key cardinality too low to spread naturally). Oracle is
    * the plain join: the rewrite is result-identical by construction.
    */
  def q109SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = Seq(("A", "returned"), ("N", "active"), ("R", "refunded"))
      .toDF("l_returnflag", "flag_name")
    graft.operators.Salting
      .saltedJoin(Tables.lineitem(s, dir).select($"l_returnflag", $"l_quantity"), dim,
        "l_returnflag", salts = 8)
      .groupBy($"flag_name")
      .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("sum_qty"))
      .orderBy($"flag_name")
  }

  /** Blocked fuzzy matching (the blocking strategy behind fuzzy dedup):
    * candidate pairs come from an equi-join on the block key (nation) plus
    * a bounded id distance — never all-pairs — and only candidates pay the
    * `levenshtein` comparison. Output is the edit-distance histogram of
    * candidate pairs.
    */
  def q110FuzzyPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
      .filter($"c_custkey" % 5 === 0)
      .select($"c_custkey", $"c_nationkey", $"c_name")
    val a = c.select($"c_custkey".as("ka"), $"c_nationkey".as("na"), $"c_name".as("name_a"))
    val b = c.select($"c_custkey".as("kb"), $"c_nationkey".as("nb"), $"c_name".as("name_b"))
    a.join(b, $"na" === $"nb" && $"ka" < $"kb" && $"kb" - $"ka" <= 50)
      .select(levenshtein($"name_a", $"name_b").cast("long").as("dist"))
      .groupBy($"dist")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"dist")
  }

  /** Incremental materialized-view maintenance (algebraic aggregates):
    * the stored base summary (shipments before 1998-06-01, pre-aggregated
    * per (returnflag, linestatus)) is refreshed with a delta batch (the
    * rest) by aggregating ONLY the delta and merging via full-outer join
    * — `sum` and `count` add; `avg` is reconstructed from (sum, n) at
    * read time, the standard algebraic-aggregate decomposition (Gray et
    * al., Data Cube, ICDE'96). The DuckDB oracle is the FULL recompute
    * over the whole table, so the hash gate itself proves
    * incremental-refresh ≡ rebuild. Quantities are summed as exact longs
    * (TPC-H quantities are integral) so partial+merge is associative to
    * the bit in both engines.
    *
    * Scale shape: at 100 TB the base summary is a stored group-sized
    * table — a refresh scans the delta partition only (date predicate
    * pushed to the scan) and joins two group-cardinality relations;
    * refresh cost ∝ delta, never the corpus.
    */
  def q158IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cut = lit("1998-06-01").cast("timestamp")
    def summarize(df: DataFrame): DataFrame =
      df.groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"l_quantity".cast("long")).as("sum_qty"),
          count(lit(1)).as("n"))
    val li = Tables.lineitem(s, dir)
      .select($"l_shipdate", $"l_returnflag", $"l_linestatus", $"l_quantity")
    val base = summarize(li.where($"l_shipdate" < cut)).as("b")
    val delta = summarize(li.where($"l_shipdate" >= cut)).as("d")
    base.join(delta, Seq("l_returnflag", "l_linestatus"), "full_outer")
      .select($"l_returnflag", $"l_linestatus",
        (coalesce($"b.sum_qty", lit(0L)) + coalesce($"d.sum_qty", lit(0L))).as("sum_qty"),
        (coalesce($"b.n", lit(0L)) + coalesce($"d.n", lit(0L))).as("n"))
      .withColumn("avg_qty", round($"sum_qty" / $"n", 2))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Referential-integrity audit: every FK edge of the star schema checked
    * for orphan child rows (FK value with no matching parent key) in one
    * pass — the data-quality gate a warehouse runs before publishing a
    * snapshot. One row per edge: child rows audited, orphan rows, distinct
    * orphan keys. The synthetic generator produces a consistent schema, so
    * orphan counts are 0 — the row totals keep the oracle hash non-trivial
    * and any future orphan flips the hash.
    *
    * Scale shape: each edge is a key-shuffle left join of the child's FK
    * column (pruned to one column at the scan) against the parent's
    * deduped PK; AQE broadcasts the genuinely small parents (region,
    * nation, supplier) and leaves lineitem⋈orders as SMJ. No fact-derived
    * relation is hint-broadcast. Output is |edges| rows — constant.
    */
  def q163RefIntegrity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def edge(rel: String, child: DataFrame, fk: String,
             parent: DataFrame, pk: String): DataFrame = {
      val c = child.select(col(fk).as("k")).where($"k".isNotNull)
      // distinct guards the row count against a (would-be-broken) duplicate
      // parent key; it is a partial-agg shuffle of the key column only
      val p = parent.select(col(pk).as("k")).distinct().withColumn("hit", lit(1))
      c.join(p, Seq("k"), "left")
        .agg(
          count(lit(1)).as("n_rows"),
          count(when($"hit".isNull, lit(1))).as("n_orphan_rows"),
          countDistinct(when($"hit".isNull, $"k")).as("n_orphan_keys"))
        .select(lit(rel).as("relation"), $"n_rows", $"n_orphan_rows", $"n_orphan_keys")
    }
    val li = Tables.lineitem(s, dir); val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir); val nat = Tables.nation(s, dir)
    Seq(
      edge("customer.c_nationkey->nation", cust, "c_nationkey", nat, "n_nationkey"),
      edge("lineitem.l_orderkey->orders", li, "l_orderkey", ord, "o_orderkey"),
      edge("lineitem.l_partkey->part", li, "l_partkey", Tables.part(s, dir), "p_partkey"),
      edge("lineitem.l_suppkey->supplier", li, "l_suppkey", Tables.supplier(s, dir), "s_suppkey"),
      edge("nation.n_regionkey->region", nat, "n_regionkey", Tables.region(s, dir), "r_regionkey"),
      edge("orders.o_custkey->customer", ord, "o_custkey", cust, "c_custkey"),
      edge("supplier.s_nationkey->nation", Tables.supplier(s, dir), "s_nationkey", nat, "n_nationkey"),
    ).reduce(_.unionAll(_)).orderBy($"relation")
  }

  /** Market-basket co-occurrence mining: the top-25 part pairs most often
    * bought in the same order — the candidate-generation pass of frequent
    * -itemset mining (and the shape behind "users also bought"
    * co-occurrence features). Pairs come from an equi-self-join on the
    * basket key with `part_a < part_b`, so each unordered pair counts
    * once per order; (orderkey, partkey) is deduped first so a part
    * appearing on two lines of one order doesn't double-count.
    *
    * Scale shape: the join is equi on l_orderkey — co-partitioned, and
    * zero-shuffle under q81's bucketed layout; per-order fanout is
    * basket² and TPC-H baskets are ≤7 lines, but open data isn't — the
    * declared basket cap (64) drops pathological baskets BEFORE the
    * join, bounding any row's fanout at 64²/2 (the same anti-domination
    * policy as q156's source cap; at this cap a 100k-item "basket" —
    * one bad crawl record — cannot emit 5·10⁹ pairs). The top-25 under
    * a total order plans as TakeOrderedAndProject: a 25-row heap per
    * partition, never a global sort.
    */
  def q165CopurchasePairs(s: SparkSession, dir: String): DataFrame =
    basketPairs(cappedBasketArrays(s, dir))

  /** Sorted distinct parts per order, capped at 64 items, materialized
    * ONCE ([[graft.Materialize]]) — the shared candidate base of q165 (pair
    * mining) and q170 (rule scoring).
    *
    * Round-20 optimization (guide §2.4 "remove shuffles outright"; VERDICT
    * r19 next #3). The retired form — distinct (order, part) pairs →
    * per-order count → join back → equi-self-join with `part_a < part_b`
    * — spent four exchanges on the fact relation, and its capped subplan
    * was REPLICATED per consumer in the static plan (q170's plan held 10
    * scans / 21 shuffles; exchange sharing was AQE runtime luck, VERDICT
    * r19 wrong #4). Now: ONE exchange on l_orderkey builds the per-order
    * sorted distinct part array (collect_set dedups in the aggregation
    * buffer — the retired distinct's separate exchange folds in), the
    * 64-item anti-domination cap applies to the SAME declared count
    * (distinct parts incl. a null, which collect_set drops — has_null
    * keeps the cap arithmetic identical), and the checkpoint pins one
    * materialization for every consumer regardless of AQE.
    */
  private def cappedBasketArrays(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val MaxBasket = 64L
    Materialize(Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey")
      .groupBy($"l_orderkey")
      .agg(
        sort_array(collect_set($"l_partkey")).as("parts"),
        // the retired cap counted DISTINCT (order, part) rows, which kept
        // one null part per order; collect_set drops nulls, so the cap
        // re-adds it (l_partkey is non-null on TPC-H data — this keeps
        // the declared policy exact even off-contract)
        max(when($"l_partkey".isNull, 1L).otherwise(0L)).as("has_null"))
      .where(size($"parts") + $"has_null" <= MaxBasket)
      .select($"l_orderkey", $"parts"), "capped baskets")
  }

  /** Top-25 co-purchased pairs from the capped basket arrays: the pair
    * fan-out is a map-side generator over each sorted basket
    * ([[graft.expressions.NativeKernels.sortedPairs]] — ascending input
    * means a < b by construction, the retired self-join's predicate), so
    * the only remaining exchange is the pair aggregation itself. The
    * top-25 under the (n DESC, a, b) total order stays
    * TakeOrderedAndProject.
    */
  private def basketPairs(baskets: DataFrame): DataFrame = {
    val s = baskets.sparkSession
    import s.implicits._
    baskets
      .select(explode(graft.expressions.NativeKernels.sortedPairs($"parts")).as("pr"))
      .select($"pr.a".as("part_a"), $"pr.b".as("part_b"))
      .groupBy($"part_a", $"part_b")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"n_orders".desc, $"part_a", $"part_b")
      .limit(25)
  }

  /** Association-rule scoring over q165's candidate pairs: confidence
    * P(b|a) and lift P(a,b)/(P(a)P(b)) for the top-25 co-purchased part
    * pairs — the step that turns raw co-occurrence into "users who bought
    * a also bought b" recommendations (Apriori's rule stage over the
    * already-mined candidates). Counts stay integers until the final
    * 4-dp divisions (integer-ratio double division is bit-identical
    * cross-engine; q104/q128's rounding precedent).
    *
    * Scale shape: item supports are a group-cardinality relation (≤
    * |parts|); the 25-row pair side joins against it — AQE broadcasts
    * the tiny side; the basket denominator is a 1-row aggregate
    * broadcast (bounded by construction). Nothing fact-sized is
    * hint-broadcast.
    */
  def q170AssociationRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE checkpointed basket relation feeds all four consumers (basket
    // count, both item-support sides, pair mining) — round 20, see
    // cappedBasketArrays. nb = rows (one row per capped order ≡ the
    // retired countDistinct); item support = per-part count of capped
    // orders containing it ≡ explode of the distinct basket arrays.
    val baskets = cappedBasketArrays(s, dir)
    val nBaskets = baskets.agg(count(lit(1)).as("nb"))
    val item = baskets.select(explode($"parts").as("l_partkey"))
      .groupBy($"l_partkey").agg(count(lit(1)).as("n_i"))
    val pairs = basketPairs(baskets)
    pairs
      .join(item.select($"l_partkey".as("part_a"), $"n_i".as("n_a")), Seq("part_a"))
      .join(item.select($"l_partkey".as("part_b"), $"n_i".as("n_b")), Seq("part_b"))
      .crossJoin(broadcast(nBaskets))
      .select($"part_a", $"part_b", $"n_orders",
        round($"n_orders".cast("double") / $"n_a", 4).as("conf_a_to_b"),
        round($"n_orders".cast("double") * $"nb" / ($"n_a" * $"n_b"), 4).as("lift"))
      .orderBy($"n_orders".desc, $"part_a", $"part_b")
  }

  /** Data-contract check suite — the dbt-test triad (`unique`,
    * `not_null`, `accepted_values`) evaluated in one report, completing
    * the quality tier next to q163's `relationships` audit: one row per
    * declared contract with rows checked and violations found. Twelve
    * contracts hold on this generator; the thirteenth —
    * unique(l_orderkey, l_linenumber) — is VIOLATED by construction (the
    * synthetic generator draws line numbers randomly in 1–7, so ~20% of
    * rows share a composite key): the live detection is the proof the
    * detector detects, and the oracle pins the exact violation count.
    *
    * Scale shape: `not_null`/`accepted_values` are map-side partial
    * aggregates over one pruned column; `unique` is one key shuffle per
    * declared key (sum(cnt) recovers rows-checked from the same pass —
    * the table is scanned once per check, never twice). Output is
    * |contracts| rows; nothing is collected or hint-broadcast.
    */
  def q166ContractChecks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def unique(rel: String, df: DataFrame, keys: Seq[String]): DataFrame =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
        .agg(sum($"cnt").as("n_checked"),
          coalesce(sum(when($"cnt" > 1, $"cnt")), lit(0L)).as("n_violations"))
        .select(lit(s"unique:$rel").as("contract"), $"n_checked", $"n_violations")
    // Round-20 (guide §1.2 "don't compute things twice" — profiled:
    // lineitem was scanned once per map-side contract): every not_null /
    // accepted contract on ONE table is a global aggregate over the same
    // rows, so each table's map-side contracts now share ONE scan — one
    // aggregate computes count(*) plus every violation count, and the
    // per-contract rows explode out of a literal struct array. The
    // `unique` contracts keep their own key shuffles (a groupBy per
    // declared key is inherent). 13 contracts: 8 map-side scans -> 4.
    import org.apache.spark.sql.Column
    def notNullV(c: String): Column = count(when(col(c).isNull, lit(1)))
    def acceptedV(c: String, vals: Seq[String]): Column =
      count(when(!col(c).isin(vals: _*) || col(c).isNull, lit(1)))
    def mapSide(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
      val agg = df.agg(count(lit(1)).as("n_checked"),
        checks.zipWithIndex.map { case ((_, v), i) => v.as(s"v$i") }: _*)
      agg.select(explode(array(checks.zipWithIndex.map { case ((name, _), i) =>
          struct(lit(name).as("contract"), $"n_checked", col(s"v$i").as("n_violations"))
        }: _*)).as("c"))
        .select($"c.contract", $"c.n_checked", $"c.n_violations")
    }
    val li = Tables.lineitem(s, dir); val ord = Tables.orders(s, dir)
    Seq(
      unique("orders.o_orderkey", ord, Seq("o_orderkey")),
      unique("lineitem.l_orderkey+l_linenumber", li, Seq("l_orderkey", "l_linenumber")),
      unique("customer.c_custkey", Tables.customer(s, dir), Seq("c_custkey")),
      unique("events.event_id", Tables.events(s, dir), Seq("event_id")),
      unique("documents.doc_id", Tables.documents(s, dir), Seq("doc_id")),
      mapSide(li, Seq(
        "not_null:lineitem.l_orderkey" -> notNullV("l_orderkey"),
        "accepted:lineitem.l_returnflag" -> acceptedV("l_returnflag", Seq("A", "N", "R")),
        "accepted:lineitem.l_linestatus" -> acceptedV("l_linestatus", Seq("O", "F")))),
      mapSide(ord, Seq(
        "not_null:orders.o_custkey" -> notNullV("o_custkey"),
        "accepted:orders.o_orderstatus" -> acceptedV("o_orderstatus", Seq("O", "F", "P")))),
      mapSide(Tables.documents(s, dir), Seq(
        "not_null:documents.text" -> notNullV("text"),
        "accepted:documents.lang" -> acceptedV("lang", Seq("de", "en", "es", "fr", "zh")))),
      mapSide(Tables.events(s, dir), Seq(
        "accepted:events.event_type" ->
          acceptedV("event_type", Seq("click", "error", "purchase", "signup", "view")))),
    ).reduce(_.unionAll(_)).orderBy($"contract")
  }

  /** Row-level snapshot diff — the data-reconciliation report between two
    * versions of a keyed table (Datafold-style data-diff): how many rows
    * were added, removed, changed, and unchanged, plus the changed set's
    * cent-exact price delta. Completes the reconciliation ladder: q161
    * compares partitions by fingerprint, q153 diffs file manifests, this
    * diffs ROWS by key. The "next" version is derived deterministically
    * from the base (q91's recipe): price bump on key%10=0, delete of
    * key%100=0, insert of negated key%97=0 — so both engines build the
    * identical pair of snapshots.
    *
    * Value compare is on (status, integer cents), never on doubles or
    * concatenated strings; the delta sums integer cents (associative ⇒
    * order-exact). Scale shape: one full-outer key-shuffle join (bucket-
    * local under q81's layout) + a 4-row rollup; nothing collected,
    * nothing hint-broadcast — both sides are fact-sized by design.
    */
  def q167SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus",
        round($"o_totalprice" * 100).cast("long").as("cents"))
    val base = o
    val next = o.where($"o_orderkey" % 100 =!= 0)                    // deletes
      .select($"o_orderkey", $"o_orderstatus",
        when($"o_orderkey" % 10 === 0, $"cents" + 500L).otherwise($"cents").as("cents"))
      .unionByName(o.where($"o_orderkey" % 97 === 0)                 // inserts
        // -(k+1), not -k: the generator contains key 0, and -0 would
        // collide with it (a phantom "unchanged" swallowing an add+remove)
        .select((-($"o_orderkey" + 1)).as("o_orderkey"), $"o_orderstatus", $"cents"))
    base.as("b").join(next.as("n"), Seq("o_orderkey"), "full_outer")
      .select(
        when($"n.cents".isNull, "removed")
          .when($"b.cents".isNull, "added")
          .when($"b.cents" =!= $"n.cents" ||
            $"b.o_orderstatus" =!= $"n.o_orderstatus", "changed")
          .otherwise("unchanged").as("diff_class"),
        (coalesce($"n.cents", lit(0L)) - coalesce($"b.cents", lit(0L))).as("delta"))
      .groupBy($"diff_class")
      .agg(count(lit(1)).as("n_rows"), sum($"delta").as("delta_cents"))
      .orderBy($"diff_class")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q170_association_rules" -> (q170AssociationRules _),
    "q167_snapshot_diff" -> (q167SnapshotDiff _),
    "q166_contract_checks" -> (q166ContractChecks _),
    "q165_copurchase_pairs" -> (q165CopurchasePairs _),
    "q163_ref_integrity" -> (q163RefIntegrity _),
    "q158_incremental_agg" -> (q158IncrementalAgg _),
    "q109_salted_join" -> (q109SaltedJoin _),
    "q110_fuzzy_pairs" -> (q110FuzzyPairs _),
    "q91_latest_wins" -> (q91LatestWins _),
    "q133_dpp_star_probe" -> (q133DppStarProbe _),
    "q76_star_join" -> (q76StarJoin _),
    "q77_runtime_filter_join" -> (q77RuntimeFilterJoin _),
    "q81_bucketed_join" -> (q81BucketedJoin _),
    "q82_group_outliers" -> (q82GroupOutliers _),
  )

  val oracles: Map[String, String] = Map(
    // rule metrics from the same capped baskets; integer counts until the
    // final 4-dp divisions
    "q170_association_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ok AS (
        |  SELECT l_orderkey FROM li GROUP BY l_orderkey HAVING count(*) <= 64
        |), lik AS (SELECT li.* FROM li JOIN ok USING (l_orderkey)),
        |n AS (SELECT count(DISTINCT l_orderkey) AS nb FROM lik),
        |item AS (SELECT l_partkey, count(*) AS n_i FROM lik GROUP BY 1),
        |pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    count(*) AS n_orders
        |  FROM lik a JOIN lik b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY part_a, part_b
        |  ORDER BY n_orders DESC, part_a, part_b LIMIT 25
        |)
        |SELECT part_a, part_b, CAST(n_orders AS BIGINT) AS n_orders,
        |  round(CAST(n_orders AS DOUBLE) / ia.n_i, 4) AS conf_a_to_b,
        |  round(CAST(n_orders AS DOUBLE) * n.nb / (ia.n_i * ib.n_i), 4) AS lift
        |FROM pairs
        |JOIN item ia ON part_a = ia.l_partkey
        |JOIN item ib ON part_b = ib.l_partkey
        |CROSS JOIN n
        |ORDER BY n_orders DESC, part_a, part_b""".stripMargin,
    // identical deterministic next-version derivation, FOJ, 4-row rollup
    "q167_snapshot_diff" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |), nx AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 0 THEN cents + 500 ELSE cents END AS cents
        |  FROM o WHERE o_orderkey % 100 <> 0
        |  UNION ALL
        |  SELECT -(o_orderkey + 1), o_orderstatus, cents FROM o WHERE o_orderkey % 97 = 0
        |), d AS (
        |  SELECT
        |    CASE WHEN n.cents IS NULL THEN 'removed'
        |         WHEN b.cents IS NULL THEN 'added'
        |         WHEN b.cents <> n.cents OR b.o_orderstatus <> n.o_orderstatus
        |           THEN 'changed'
        |         ELSE 'unchanged' END AS diff_class,
        |    COALESCE(n.cents, 0) - COALESCE(b.cents, 0) AS delta
        |  FROM o b FULL OUTER JOIN nx n USING (o_orderkey)
        |)
        |SELECT diff_class, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(delta) AS BIGINT) AS delta_cents
        |FROM d GROUP BY diff_class ORDER BY diff_class""".stripMargin,
    // the same triad per contract; sum(cnt) recovers rows-checked from
    // the unique pass exactly as the Spark plan does
    "q166_contract_checks" -> {
      def unique(rel: String, t: String, keys: String): String =
        s"""SELECT 'unique:$rel' AS contract, CAST(sum(cnt) AS BIGINT) AS n_checked,
           |  CAST(COALESCE(sum(CASE WHEN cnt > 1 THEN cnt END), 0) AS BIGINT) AS n_violations
           |FROM (SELECT count(*) AS cnt FROM $t GROUP BY $keys)""".stripMargin
      def notNull(rel: String, t: String, c: String): String =
        s"""SELECT 'not_null:$rel' AS contract, CAST(count(*) AS BIGINT) AS n_checked,
           |  CAST(count(CASE WHEN $c IS NULL THEN 1 END) AS BIGINT) AS n_violations
           |FROM $t""".stripMargin
      def accepted(rel: String, t: String, c: String, vals: String): String =
        s"""SELECT 'accepted:$rel' AS contract, CAST(count(*) AS BIGINT) AS n_checked,
           |  CAST(count(CASE WHEN $c IS NULL OR $c NOT IN ($vals) THEN 1 END) AS BIGINT) AS n_violations
           |FROM $t""".stripMargin
      Seq(
        unique("orders.o_orderkey", "orders", "o_orderkey"),
        unique("lineitem.l_orderkey+l_linenumber", "lineitem", "l_orderkey, l_linenumber"),
        unique("customer.c_custkey", "customer", "c_custkey"),
        unique("events.event_id", "events", "event_id"),
        unique("documents.doc_id", "documents", "doc_id"),
        notNull("orders.o_custkey", "orders", "o_custkey"),
        notNull("lineitem.l_orderkey", "lineitem", "l_orderkey"),
        notNull("documents.text", "documents", "text"),
        accepted("lineitem.l_returnflag", "lineitem", "l_returnflag", "'A','N','R'"),
        accepted("lineitem.l_linestatus", "lineitem", "l_linestatus", "'O','F'"),
        accepted("orders.o_orderstatus", "orders", "o_orderstatus", "'O','F','P'"),
        accepted("events.event_type", "events", "event_type",
          "'click','error','purchase','signup','view'"),
        accepted("documents.lang", "documents", "lang", "'de','en','es','fr','zh'"),
      ).mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY contract")
    },
    // same dedup → basket-cap → a<b self-join; (n DESC, a, b) total order
    "q165_copurchase_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ok AS (
        |  SELECT l_orderkey FROM li GROUP BY l_orderkey HAVING count(*) <= 64
        |)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM li a
        |JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |JOIN ok ON a.l_orderkey = ok.l_orderkey
        |GROUP BY part_a, part_b
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 25""".stripMargin,
    // one UNION ALL branch per FK edge, same left-join-deduped-PK shape
    "q163_ref_integrity" -> {
      def edge(rel: String, child: String, fk: String,
               parent: String, pk: String): String =
        s"""SELECT '$rel' AS relation, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(CASE WHEN p.k IS NULL THEN 1 END) AS BIGINT) AS n_orphan_rows,
           |  CAST(count(DISTINCT CASE WHEN p.k IS NULL THEN c.k END) AS BIGINT) AS n_orphan_keys
           |FROM (SELECT $fk AS k FROM $child WHERE $fk IS NOT NULL) c
           |LEFT JOIN (SELECT DISTINCT $pk AS k FROM $parent) p ON c.k = p.k""".stripMargin
      Seq(
        edge("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        edge("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        edge("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
        edge("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        edge("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      ).mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY relation")
    },
    // the full recompute — hash-matching it proves the incremental merge
    "q158_incremental_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*), 2)
        |    AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q109_salted_join" ->
      """WITH dim AS (
        |  SELECT * FROM (VALUES ('A', 'returned'), ('N', 'active'), ('R', 'refunded'))
        |    AS t(l_returnflag, flag_name)
        |)
        |SELECT flag_name, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN dim USING (l_returnflag)
        |GROUP BY flag_name ORDER BY flag_name""".stripMargin,
    "q110_fuzzy_pairs" ->
      """SELECT CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
        |  count(*) AS n_pairs
        |FROM (SELECT * FROM customer WHERE c_custkey % 5 = 0) a
        |JOIN (SELECT * FROM customer WHERE c_custkey % 5 = 0) b
        |  ON a.c_nationkey = b.c_nationkey
        | AND a.c_custkey < b.c_custkey AND b.c_custkey - a.c_custkey <= 50
        |GROUP BY dist ORDER BY dist""".stripMargin,
    "q133_dpp_star_probe" ->
      """WITH dim AS (
        |  SELECT year(o_orderdate) AS yr, count(*) AS n_orders
        |  FROM orders GROUP BY 1 HAVING count(*) % 2 = 1
        |)
        |SELECT CAST(f.yr AS BIGINT) AS yr, count(*) AS n,
        |  round(sum(f.o_totalprice), 2) AS total_price
        |FROM (SELECT year(o_orderdate) AS yr, o_totalprice FROM orders) f
        |JOIN dim ON f.yr = dim.yr
        |GROUP BY 1 ORDER BY yr""".stripMargin,
    "q91_latest_wins" ->
      """WITH all_rows AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS version FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'U',
        |    (CAST(round(o_totalprice * 100) AS BIGINT) + 500) / 100.0, 1
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'D', 0.0, 2
        |  FROM orders WHERE o_orderkey % 100 = 0
        |), latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
        |    FROM all_rows
        |  ) WHERE rn = 1
        |)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total_price,
        |  CAST(sum(version) AS BIGINT) AS version_sum
        |FROM latest GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q76_star_join" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q77_runtime_filter_join" ->
      """SELECT p_size, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |JOIN (SELECT p_partkey, p_size FROM part
        |      WHERE p_type = 'SMALL' AND p_size <= 10) d
        |  ON l_partkey = p_partkey
        |GROUP BY p_size ORDER BY p_size""".stripMargin,
    "q81_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q82_group_outliers" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v100 FROM events
        |), st AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(v100) AS BIGINT) AS s1,
        |    CAST(sum(v100 * v100) AS BIGINT) AS s2
        |  FROM ev GROUP BY event_type
        |), z AS (
        |  SELECT ev.event_type,
        |    (CAST(v100 AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
        |      / sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS z
        |  FROM ev JOIN st ON ev.event_type = st.event_type
        |)
        |SELECT event_type, count(*) AS n_outliers,
        |  round(min(z), 4) AS min_z, round(max(z), 4) AS max_z
        |FROM z WHERE abs(z) > 2.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
