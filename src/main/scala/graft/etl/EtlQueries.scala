package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, Tables}
import graft.lake.Log

/** Registered queries exercising the sink surface (SURVEY §2.1 S3/S4):
  * the partitioned-parquet write → re-read round trip, verified through the
  * DuckDB oracle (the oracle aggregates the source directly, so a bug in
  * either the write or the re-read breaks the hash match).
  */
object EtlQueries {

  /** Hive-partitioned write + re-read + aggregate over `orders`. Mirrors
    * the reference's `partitionBy("year","month").parquet(...)` sinks
    * (etl.py:167–169, 203–204). Partition-column values come back as
    * directory strings (inferred int) and are cast back to long; the
    * aggregate proves row fidelity across the round trip.
    */
  def q21EtlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = graft.Scratch.path(s"etl_roundtrip_${graft.Scratch.tag(dir)}")
    // repartition on the partition columns → one file per (year, month)
    // dir instead of one per (task × dir): fewer, bigger files — the
    // layout a downstream reader wants (and measurably faster to write
    // and re-read here).
    Tables.orders(s, dir)
      .withColumn("o_year", year($"o_orderdate"))
      .withColumn("o_month", month($"o_orderdate"))
      .repartition($"o_year", $"o_month")
      .write.mode("overwrite").partitionBy("o_year", "o_month").parquet(out)
    Tables.parquetStable(s, out, Seq(out))
      .groupBy($"o_year".cast("long").as("o_year"), $"o_month".cast("long").as("o_month"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("total_price"))
      .orderBy($"o_year", $"o_month")
  }

  /** CSV sink + schema-pinned re-read (header on, explicit schema back in —
    * text formats carry no types, so the re-read pins them; timestamps
    * round-trip through an explicit format). The aggregate proves value
    * fidelity across the text serialization.
    */
  def q47CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types._
    val out = graft.Scratch.path(s"csv_roundtrip_${graft.Scratch.tag(dir)}")
    Tables.customer(s, dir)
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    s.read.option("header", "true").schema(schema).csv(out)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum($"c_acctbal"), 2).as("total_bal"))
      .orderBy($"c_mktsegment")
  }

  /** ORC sink + re-read — the other columnar format a lake migration
    * encounters; schema travels with the file like parquet.
    */
  def q48OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = graft.Scratch.path(s"orc_roundtrip_${graft.Scratch.tag(dir)}")
    Tables.supplier(s, dir).write.mode("overwrite").orc(out)
    s.read.orc(out)
      .groupBy($"s_nationkey".cast("long").as("s_nationkey"))
      .agg(count(lit(1)).as("n"), round(sum($"s_acctbal"), 2).as("total_bal"))
      .orderBy($"s_nationkey")
  }

  /** XML sink + schema-pinned re-read (Spark 4's built-in XML source,
    * SPARK-44265 — the spark-xml package folded into core): rowTag'd
    * records out, explicit schema back in (XML carries no types, same
    * discipline as q47's CSV). Completes the interchange-format matrix
    * next to JSON/CSV/ORC; the aggregate proves value fidelity across
    * the markup serialization, including `#` in brand text.
    */
  def q200XmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types._
    val out = graft.Scratch.path(s"xml_roundtrip_${graft.Scratch.tag(dir)}")
    Tables.part(s, dir)
      .write.mode("overwrite").option("rootTag", "parts").option("rowTag", "part")
      .format("xml").save(out)
    val schema = StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", LongType), StructField("p_retailprice", DoubleType)))
    s.read.option("rowTag", "part").schema(schema).format("xml").load(out)
      .groupBy($"p_type")
      .agg(count(lit(1)).as("n"), sum($"p_size").as("total_size"),
        round(sum($"p_retailprice"), 2).as("total_price"),
        countDistinct($"p_brand").as("n_brands"))
      .orderBy($"p_type")
  }

  /** The custom DataSource V2 connector ([[graft.sources.FwbDataSource]])
    * under the oracle gate: the orders table round-trips through the GFWB
    * fixed-width binary format (written once per process as 4
    * range-clustered files), then the REGISTERED scan reads it back via
    * `format("graft-fwb")` with a key-range predicate — so the plan
    * exercises file skipping (footer min/max keeps 1 of 4 files for this
    * range) and column pruning through a fully foreign code path, and the
    * aggregate must still hash-match DuckDB on the parquet ground truth.
    * Prices travel as exact integer cents (the format's schema), keeping
    * every aggregate integer-exact. FwbSourceSpec pins the skip count and
    * pruned read schema structurally.
    */
  def q201CustomSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = graft.sources.FwbFormat.writeFixture(s, dir)
    s.read.format("graft-fwb").load(path)
      .filter($"o_orderkey" < 1000)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"o_cents").as("sum_cents"),
        min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"),
        countDistinct($"o_custkey").as("n_cust"))
      .orderBy($"o_orderpriority")
  }

  /** The connector's WRITE half ([[graft.sources.FwbWrite]]) under the
    * oracle gate: a filtered orders slice goes OUT through the V2 batch
    * writer (staged-file two-phase commit, per-task footers) and comes
    * back through the V2 reader, and the rollup must still hash-match
    * DuckDB on the parquet ground truth — so a corrupt record layout,
    * dictionary code, footer stat, or commit/rename bug all surface as a
    * wrong answer. Unlike q201's build-once fixture this RE-WRITES every
    * execution: the bench figure prices the full write→commit→read cycle.
    */
  def q202CustomSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = graft.Scratch.path(
      s"fwb_sink_${graft.Scratch.tag(dir)}_pid${ProcessHandle.current.pid}")
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey",
        round($"o_totalprice" * 100).cast("long").as("o_cents"), $"o_orderpriority")
      .filter($"o_orderkey" % 3 === 0)
      .write.format("graft-fwb").mode("overwrite").save(out)
    s.read.format("graft-fwb").load(out)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"o_cents").as("sum_cents"),
        countDistinct($"o_custkey").as("n_cust"))
      .orderBy($"o_orderpriority")
  }

  /** Secondary-column file skipping through the connector (VERDICT r11
    * next #4): a point-predicate set on `o_custkey` — a column the
    * key-range min/max can say NOTHING about (every range-clustered file
    * holds the full custkey spread) — pushes into the scan and probes
    * each file's footer BLOOM filter at planning time; files whose bloom
    * rejects every probed key never open. Planning itself reads only the
    * directory manifest (stats cached at commit time), so the whole
    * decision is O(1) file opens. Skipping stays a strict optimization:
    * the predicate remains a residual, so a bloom/manifest bug shows as
    * a wrong answer against the parquet ground truth, never silently.
    * Customer 7's orders land in several key ranges, so the query also
    * proves multi-file reassembly under pruning + bloom probing.
    */
  def q205BloomSkipScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = graft.sources.FwbFormat.writeFixture(s, dir)
    s.read.format("graft-fwb").load(path)
      .filter($"o_custkey".isin(7L, 11L, 16L))
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n"), sum($"o_cents").as("sum_cents"),
        min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"))
      .orderBy($"o_custkey")
  }

  /** Metadata-only aggregation through the connector (DataSource V2
    * `SupportsPushDownAggregates`, complete pushdown): the whole-table
    * COUNT/MIN/MAX is answered from the directory's stats manifest at
    * PLANNING time — no record file opens, no cluster job; the "scan"
    * emits one precomputed row (parquet's metadata-only-query shape; at
    * 100 TB this turns a fleet-wide count into one manifest read). The
    * pushdown conditions are strict (no filters, no grouping, only the
    * stats the footer actually states) and the oracle recomputes the
    * same aggregates from the parquet ground truth, so a stale or wrong
    * manifest is a loud hash mismatch. FwbSourceSpec pins the plan shape
    * (no record reads, METADATA-ONLY scan description).
    */
  def q209MetadataAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = graft.sources.FwbFormat.writeFixture(s, dir)
    s.read.format("graft-fwb").load(path)
      .agg(count(lit(1)).as("n_orders"),
        min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"),
        count($"o_custkey").as("n_cust_vals"))
  }

  /** Time travel through the connector: every commit is an immutable
    * version of the directory's table log ([[graft.lake.Log]]), and
    * `versionAsOf` N plans exactly N's files — later appends invisible, no
    * data copied, no replay. The query builds a two-generation history
    * (gen1 overwrite → v1, gen2 append → v2) and reports v1 NEXT TO the
    * current state; the oracle restates both from the parquet ground
    * truth, so a version that leaks newer files or drops older ones is a
    * hash mismatch. Reconstructability ends at a truncate, LOUDLY.
    */
  def q211TimeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = graft.Scratch.path(
      s"fwb_tt_${graft.Scratch.tag(dir)}_pid${ProcessHandle.current.pid}")
    // the staging dir starts empty, so `versionAsOf 1` below always names
    // the first commit
    graft.Scratch.publishOnce(out) { staging =>
      val src = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey",
          round($"o_totalprice" * 100).cast("long").as("o_cents"), $"o_orderpriority")
      src.filter($"o_orderkey" % 3 === 0)
        .write.format("graft-fwb").mode("overwrite").save(staging) // version 1
      src.filter($"o_orderkey" % 3 === 1)
        .write.format("graft-fwb").mode("append").save(staging) // version 2
    }
    def rollup(df: DataFrame, label: String): DataFrame =
      df.agg(count(lit(1)).as("n"), sum($"o_cents").as("sum_cents"),
        countDistinct($"o_custkey").as("n_cust"))
        .select(lit(label).as("snapshot"), $"n", $"sum_cents", $"n_cust")
    rollup(s.read.format("graft-fwb").option("versionAsOf", "1").load(out), "v1")
      .unionByName(rollup(s.read.format("graft-fwb").load(out), "current"))
      .orderBy($"snapshot")
  }

  /** Catalog-integrated SQL over the custom connector
    * ([[graft.sources.GraftCatalog]]): the GFWB table resolved BY NAME
    * through a registered `TableCatalog` plugin — no paths, no
    * `format(...)` plumbing in the query text; the catalog owns the
    * name → physical-layout mapping, which is how an engine actually
    * ships tables to users. The catalog name is tagged per sf dir because
    * Spark caches catalog instances by name for the session lifetime —
    * a second dir gets a second catalog, never a stale one.
    */
  def q203CatalogSql(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_${graft.Scratch.tag(dir)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.sfdir", dir)
    s.sql(
      s"""SELECT o_orderpriority, count(*) AS n,
         |  CAST(sum(o_cents) AS BIGINT) AS sum_cents,
         |  count(DISTINCT o_custkey) AS n_cust
         |FROM $cat.default.orders_fwb
         |WHERE o_custkey % 10 = 0
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** NDJSON sink + schema-pinned re-read — the reference's native input
    * format (etl.py reads JSON; SparkifyEtl covers the source side over
    * the fixture) exercised as a SINK and re-scanned the way a production
    * lake does it: explicit schema, no inference pass over the files.
    * Dates travel as ISO strings and come back as DateType through the
    * pinned schema; the aggregate proves value fidelity end to end.
    */
  def q46JsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types._
    val out = graft.Scratch.path(s"json_roundtrip_${graft.Scratch.tag(dir)}")
    Tables.orders(s, dir).write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
    s.read.schema(schema).json(out)
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("total_price"),
        min(date_format($"o_orderdate", "yyyy-MM-dd")).as("first_date"),
        max(date_format($"o_orderdate", "yyyy-MM-dd")).as("last_date"))
      .orderBy($"o_orderstatus")
  }

  /** Schema evolution across parquet generations: a v=1 write without
    * `o_orderstatus`, a v=2 write with it, one read of the base directory
    * with `mergeSchema` — partition discovery turns the `v=N` dirs into a
    * partition column and the merged schema null-fills the column v1 never
    * had. This is how a lake reads years of files written under drifting
    * schemas without a migration pass; the aggregate proves null-fill and
    * partition typing.
    */
  def q88SchemaMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = graft.Scratch.path(s"schema_merge_${graft.Scratch.tag(dir)}")
    val o = Tables.orders(s, dir)
    o.filter($"o_orderkey" % 2 === 0)
      .select($"o_orderkey", $"o_totalprice")
      .write.mode("overwrite").parquet(s"$out/v=1")
    o.filter($"o_orderkey" % 2 =!= 0)
      .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
      .write.mode("overwrite").parquet(s"$out/v=2")
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy($"v".cast("long").as("v"),
        coalesce($"o_orderstatus", lit("(absent)")).as("status"))
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total_price"))
      .orderBy($"v", $"status")
  }

  /** Range-clustered layout (CLUSTER BY's write path, Z-order's 1-D
    * cousin): repartitionByRange + sortWithinPartitions on the filter
    * column before the write gives each output file a tight min/max range
    * on `o_orderdate`, so a later range-filtered read prunes whole files /
    * row groups via parquet statistics instead of scanning. The re-read
    * aggregate proves fidelity; BreadthSpec pins the file count and the
    * pushed filter.
    */
  def q97RangeClusteredWrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = graft.Scratch.path(s"range_clustered_${graft.Scratch.tag(dir)}")
    Tables.orders(s, dir)
      .repartitionByRange(8, $"o_orderdate")
      .sortWithinPartitions($"o_orderdate")
      .write.mode("overwrite").parquet(out)
    Tables.parquetStable(s, out, Seq(out))
      .filter($"o_orderdate" >= lit("1997-01-01") && $"o_orderdate" < lit("1997-07-01"))
      .groupBy(month($"o_orderdate").cast("long").as("mo"))
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
      .orderBy($"mo")
  }

  /** Calendar-dimension generation (the reference's `time` table built
    * from NOTHING — `sequence` + `explode` instead of extracting dates
    * from a fact scan): one row per 2024 day with the derived attributes.
    * Generated dims are how a lake gets a complete calendar (no gaps on
    * days with no facts); the whole plan is a generator, zero input IO.
    * Weekday is ISO (0 = Monday) — the portable convention both engines
    * express exactly; the reference's own `date_format('F')` weekday bug
    * (etl.py:163) is documented at SURVEY §2.9 F5.
    */
  def q103CalendarDim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(1)
      .select(explode(expr(
        "sequence(to_date('2024-01-01'), to_date('2024-12-31'), interval 1 day)")).as("d"))
      .select(
        date_format($"d", "yyyy-MM-dd").as("date_str"),
        year($"d").cast("long").as("yr"),
        month($"d").cast("long").as("mo"),
        dayofmonth($"d").cast("long").as("dom"),
        weekofyear($"d").cast("long").as("wk"),
        expr("weekday(d)").cast("long").as("wd"),
        quarter($"d").cast("long").as("qtr"),
        when(expr("weekday(d)") >= 5, 1L).otherwise(0L).as("is_weekend"))
      .orderBy($"date_str")
  }

  /** Malformed-input tolerance at the SOURCE level — the two-layer
    * cleaning recipe dirty CSV actually needs: DROPMALFORMED removes
    * structurally-broken lines (arity overflow), while truncated/
    * type-garbage lines null-fill (PERMISSIVE-style) and are cleared by
    * the reference's own `na.drop` idiom (etl.py:70/86/137) on the key
    * columns. Either layer alone leaks bad rows (verified: DROPMALFORMED
    * keeps null-padded short rows); together the aggregate equals the
    * clean subset, which is what the oracle computes from the source.
    */
  def q124MalformedCsv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types._
    val out = graft.Scratch.path(s"malformed_csv_${graft.Scratch.tag(dir)}")
    val good = Tables.customer(s, dir)
      .select(concat_ws(",", $"c_custkey", $"c_name", $"c_nationkey",
        $"c_acctbal", $"c_mktsegment").as("line"))
    val bad = s.createDataset(Seq(
      "not,a,number,row",            // c_custkey fails the LongType cast
      "1,only-two-fields",           // truncated
      ",,,,,,too,many,fields,here",  // arity overflow
      "xyz"))                        // single garbage token
    good.unionByName(bad.toDF("line"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    s.read.schema(schema).option("mode", "DROPMALFORMED").csv(out)
      .na.drop("any", Seq("c_custkey", "c_mktsegment"))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum($"c_acctbal"), 2).as("total_bal"))
      .orderBy($"c_mktsegment")
  }

  // --- the orders lakes: q132 upsert, q154 delete, q135/q153 versions ----
  // Each is a [[graft.lake.Log]] table: version 1 is the base; an upsert
  // or delete commits (old set − touched partitions' files) + new files.

  private[graft] def upsertLakePath(dir: String): String =
    graft.Scratch.path(s"upsert_lake_${graft.Scratch.tag(dir)}")

  private[graft] val LakePartitions = Seq("o_year", "o_month")

  private def withPartitions(orders: DataFrame): DataFrame =
    orders.withColumn("o_year", year(col("o_orderdate")))
      .withColumn("o_month", month(col("o_orderdate")))

  /** The CDC batch's window, the partitions q132 and q135 rewrite. */
  private[graft] val upsertWindow: org.apache.spark.sql.Column =
    col("o_year") === 1997 && col("o_month") <= 2

  /** Commit the base: orders hive-partitioned by (o_year, o_month), the
    * reference's partitioned-write layout (etl.py:167–169, 203–204), as
    * the table a CDC stream updates. On an empty table this is version 1.
    */
  private[graft] def writeUpsertBase(s: SparkSession, dir: String, out: String): Int = {
    val base = withPartitions(Tables.orders(s, dir))
    val files = Log.write(base.repartition(LakePartitions.map(col): _*), out, LakePartitions)
    Log.commit(out)(_ => Log.Snapshot(base.schema, LakePartitions, files))
  }

  /** Deterministic CDC batch confined to the 1997-01/02 partitions:
    * updates (key % 10 == 0 → status U, price bumped $5 via exact cents,
    * the q91 derivation) plus inserts (key % 100 == 0 re-keyed past the
    * base key range → status I). Rows carry their partition columns — the
    * upsert contract; a row changing partitions is a delete+insert, which
    * this path (like Hive-style partition overwrite generally) does not
    * cover.
    */
  private[graft] def upsertCdc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val window = withPartitions(Tables.orders(s, dir)).filter(upsertWindow)
    val updates = window.filter($"o_orderkey" % 10 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice",
        (round($"o_totalprice" * 100).cast("long") + 500L) / 100.0)
    val inserts = window.filter($"o_orderkey" % 100 === 0)
      .withColumn("o_orderkey", $"o_orderkey" + 100000000L)
      .withColumn("o_orderstatus", lit("I"))
      .withColumn("o_totalprice", lit(1000.0))
    updates.unionByName(inserts)
  }

  /** Copy-on-write: `cur` without the files of the partitions `touched`
    * selects, plus `rows` (those partitions' new content) as new files. A
    * touched partition `rows` leaves empty has no files in the result —
    * that is its deletion.
    */
  private def rewrite(s: SparkSession, out: String, cur: Log.Snapshot,
      touched: org.apache.spark.sql.Column, rows: DataFrame): Log.Snapshot = {
    val gone = Log.filesWhere(s, cur, touched).toSet
    val added = Log.write(rows.repartition(LakePartitions.map(col): _*), out, LakePartitions)
    cur.copy(files = cur.files.filterNot(gone) ++ added)
  }

  /** MERGE-shape apply, partition-scoped: read ONLY the touched partitions
    * (pruned from the logged files), compact base ∪ CDC latest-wins per key
    * (q91's WindowGroupLimit shape) and commit the result in place of the
    * touched partitions' files — the cost scales with the partitions the
    * batch touches, never the table. Returns the committed version.
    */
  private[graft] def applyUpsert(
      s: SparkSession, out: String, cdc: DataFrame,
      touched: org.apache.spark.sql.Column): Int = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_orderkey").orderBy($"version".desc)
    Log.commit(out) { cur =>
      val merged = Log.read(s, out, cur).filter(touched)
        .withColumn("version", lit(0L))
        .unionByName(cdc.withColumn("version", lit(1L)))
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .drop("rn", "version")
      rewrite(s, out, cur, touched, merged)
    }
  }

  /** The registered end-to-end upsert: commit the base once (a one-time
    * cost, as at table creation), apply the CDC batch, keep only the new
    * version ([[graft.lake.Log.vacuum]]: repeated executions leave a fixed
    * number of files), then aggregate the WHOLE table at that version
    * against an oracle that recomputes the merged state from the source.
    * Re-applying the same CDC images converges latest-wins to the same
    * state, so every execution answers alike.
    */
  def q132PartitionUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = upsertLakePath(dir)
    if (Log.current(out) == 0) writeUpsertBase(s, dir, out)
    val v = applyUpsert(s, out, upsertCdc(s, dir), upsertWindow)
    Log.vacuum(out, v)
    Log.read(s, out, Log.snapshot(out, v))
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("total_price"),
        max($"o_orderkey").as("max_key"))
      .orderBy($"o_orderstatus")
  }

  // --- q154: partition-scoped DELETE -------------------------------------

  private[graft] def deleteLakePath(dir: String): String =
    graft.Scratch.path(s"delete_lake_${graft.Scratch.tag(dir)}")

  /** Partition-scoped DELETE (right-to-be-forgotten without a full
    * rewrite): drop the rows matching `pred` from the partitions matching
    * `touched`, writing only those partitions anew. A partition whose rows
    * are ALL deleted has no files in the new version. Returns the version.
    */
  private[graft] def applyDelete(s: SparkSession, out: String,
      touched: org.apache.spark.sql.Column, pred: org.apache.spark.sql.Column): Int =
    Log.commit(out) { cur =>
      rewrite(s, out, cur, touched, Log.read(s, out, cur).filter(touched).filter(!pred))
    }

  /** Registered DELETE query: 1996's orders from every 10th customer are
    * erased; the whole-lake aggregate against an oracle that recomputes
    * the post-delete state catches over- and under-deletion. Idempotent
    * (deleting absent rows is a no-op); like q132 it keeps only the
    * version it commits.
    */
  def q154PartitionDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = deleteLakePath(dir)
    if (Log.current(out) == 0) writeUpsertBase(s, dir, out)
    val v = applyDelete(s, out, $"o_year" === 1996, $"o_custkey" % 10 === 3)
    Log.vacuum(out, v)
    Log.read(s, out, Log.snapshot(out, v))
      .groupBy($"o_year".cast("long").as("o_year"))
      .agg(
        count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("total_price"),
        countDistinct($"o_custkey").as("n_cust"))
      .orderBy($"o_year")
  }

  // --- q135: versioned lake (time travel) --------------------------------

  private[graft] def versionedLakePath(dir: String): String =
    graft.Scratch.path(s"versioned_lake_${graft.Scratch.tag(dir)}")

  /** A fresh two-version history: v1 = the base, v2 = q132's CDC batch
    * merged copy-on-write, the untouched files REUSED by reference. Each
    * call deletes the old table first, so versions 1 and 2 always name
    * this call's commits.
    */
  private[graft] def commitVersions(s: SparkSession, dir: String, out: String): Unit = {
    graft.Scratch.deleteRecursively(new java.io.File(out))
    writeUpsertBase(s, dir, out)
    applyUpsert(s, out, upsertCdc(s, dir), upsertWindow)
  }

  /** Snapshot read "as of" version v: exactly the files the log names. */
  private[graft] def readVersion(s: SparkSession, out: String, v: Int): DataFrame =
    Log.read(s, out, Log.snapshot(out, v))

  /** Incremental consumption: the data files NEW in version `to` relative
    * to `from` (exact, since data files are immutable) — the changelog read
    * a downstream job runs instead of reprocessing the table.
    */
  private[graft] def readVersionDiff(s: SparkSession, out: String,
      from: Int, to: Int): DataFrame = {
    val base = Log.snapshot(out, from).files.map(_.path).toSet
    val next = Log.snapshot(out, to)
    Log.read(s, out, next.copy(files = next.files.filterNot(f => base(f.path))))
  }

  /** Registered incremental-read query: aggregate ONLY what changed
    * between v1 and v2 of the q135 lake (the copy-on-write merge of the
    * CDC window). The oracle recomputes the post-merge touched slice from
    * the source, so a diff naming a wrong file set — missed files, the
    * shared untouched slice leaking in — breaks the hash.
    */
  def q153IncrementalRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = versionedLakePath(dir)
    // reuse q135's lake; (re)build only if its commits are absent
    if (Log.current(out) < 2) commitVersions(s, dir, out)
    readVersionDiff(s, out, 1, 2)
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("total_price"),
        max($"o_orderkey").as("max_key"))
      .orderBy($"o_orderstatus")
  }

  /** Registered time-travel query: commit v1 and v2, then aggregate BOTH
    * snapshots — the oracle recomputes each version's state from the
    * source, so a version naming a wrong file set breaks the hash.
    * UpsertSpec additionally pins the physical claims (file immutability,
    * untouched-file reuse across versions).
    */
  def q135TimeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = versionedLakePath(dir)
    commitVersions(s, dir, out)
    def snap(v: Int) = readVersion(s, out, v)
      .groupBy(lit(v.toLong).as("version"), $"o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total_price"))
    snap(1).unionByName(snap(2)).orderBy($"version", $"o_orderstatus")
  }

  /** Small-file compaction — the maintenance pass that keeps a partitioned
    * lake readable after many small incremental commits (every CDC batch
    * adds a file per touched partition; a year of hourly batches is ~10⁴
    * small files per partition and a scan planner drowning in footers).
    * Fragment the lake deliberately (16 writer tasks per partition), then
    * compact by repartitioning ON the partition columns so each (year,
    * month) directory collapses to ONE full-size file — content-invariant
    * by construction, which the oracle checks by aggregating the compacted
    * re-read against the source. UpsertSpec pins the file counts
    * before/after. At 100 TB the same pass runs per-partition with the
    * target file size (not 1) as the knob.
    */
  def q137Compaction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val frag = graft.Scratch.path(s"compaction_frag_${graft.Scratch.tag(dir)}")
    val out = graft.Scratch.path(s"compaction_out_${graft.Scratch.tag(dir)}")
    // one year's partitions suffice to exercise the pass (compaction runs
    // per-partition anyway — a real run scopes to the partitions whose
    // file counts crossed a threshold, not the whole table). The
    // fragmented lake is the FIXTURE, published once (q132's split
    // rationale): the measured operation is the compaction itself.
    graft.Scratch.publishOnce(frag, "_frag_complete") { staging =>
      Tables.orders(s, dir)
        .filter(year($"o_orderdate") === 1997)
        .withColumn("o_year", year($"o_orderdate"))
        .withColumn("o_month", month($"o_orderdate"))
        .repartition(16) // deliberate fragmentation: ≤16 files per partition dir
        .write.mode("overwrite").partitionBy("o_year", "o_month").parquet(staging)
    }
    Tables.parquetStable(s, frag, Seq(frag))
      .repartition($"o_year", $"o_month")
      .write.mode("overwrite").partitionBy("o_year", "o_month").parquet(out)
    Tables.parquetStable(s, out, Seq(out))
      .groupBy($"o_month".cast("long").as("o_month"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("total_price"))
      .orderBy($"o_month")
  }

  // --- q136: Z-order clustered layout ------------------------------------

  /** Z-order (Morton-interleaved) clustered write — q97's 1-D range
    * clustering generalized to TWO filter dimensions: interleaving the
    * bits of (customer key, day index) makes each output file a compact
    * rectangle-ish region of the (customer, date) plane, so parquet
    * min/max statistics prune files/row-groups for range filters on
    * EITHER dimension — the layout answer when a 100 TB fact is filtered
    * sometimes by customer, sometimes by date, and a single sort key can
    * only serve one of them. Both dimensions are first normalized to the
    * SAME 10-bit index against their data bounds (1-row broadcast) —
    * interleaving unequal bit widths degenerates to a 1-D sort on the
    * wider dimension's high bits. The z column exists only to drive
    * repartitionByRange + sortWithinPartitions and is dropped before the
    * write; UpsertSpec pins the per-file min/max tightness on BOTH
    * dimensions; the oracle pins the rectangle-filtered aggregate.
    */
  def q136ZorderWrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = graft.Scratch.path(s"zorder_${graft.Scratch.tag(dir)}")
    val Bits = 10
    val days = datediff($"o_orderdate", lit("1995-01-01")).cast("long")
    val bounds = Tables.orders(s, dir).agg(
      max($"o_custkey").as("maxc"), max(days).as("maxd"))
    val src = Tables.orders(s, dir).crossJoin(broadcast(bounds))
      .withColumn("ckey",
        floor($"o_custkey" * (1L << Bits) / ($"maxc" + 1)).cast("long"))
      .withColumn("dkey",
        floor(days * (1L << Bits) / ($"maxd" + 1)).cast("long"))
    val z = (0 until Bits).map { i =>
      (shiftright($"ckey", i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright($"dkey", i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
    src.withColumn("z", z)
      .repartitionByRange(8, $"z")
      .sortWithinPartitions($"z")
      .drop("z", "ckey", "dkey", "maxc", "maxd")
      .write.mode("overwrite").parquet(out)
    Tables.parquetStable(s, out, Seq(out))
      .filter($"o_custkey" < 100 &&
        $"o_orderdate" >= lit("1997-01-01") && $"o_orderdate" < lit("1998-01-01"))
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total_price"))
      .orderBy($"o_orderstatus")
  }

  /** File-lineage metadata (`_metadata` hidden column): every parquet row
    * tagged with the file it came from — the provenance column a lake
    * audit joins on. Zero-cost: the value comes from the reader, not the
    * data.
    */
  def q125FileMetadata(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = s"$dir/orders.parquet"
    Tables.parquetStable(s, orders, Seq(orders))
      .select(regexp_extract(col("_metadata.file_name"), "([^/]+)$", 1).as("file"),
        $"o_orderkey")
      .groupBy($"file")
      .agg(count(lit(1)).as("n_rows"), max($"o_orderkey").as("max_key"))
      .orderBy($"file")
  }

  /** Orderless per-partition table checksum — the anti-entropy
    * fingerprint two replicas (or a table before/after migration,
    * compaction, or engine swap) compare to prove byte-equal content
    * without shipping rows. Per order-year: XOR of 60-bit row hashes
    * (md5 over a canonical `|`-joined rendering of the integer/string
    * columns — doubles excluded: engines disagree on float→string
    * rendering, never on ints), plus count/min/max of the hash to catch
    * what XOR alone cancels (an even number of identical changes). Every
    * reducer is commutative+associative, so the checksum is independent
    * of row order, partitioning, and engine — this DuckDB gate literally
    * IS the cross-engine replica comparison the operator exists for.
    *
    * Scale shape: map-side hash, partial-aggregated rollup to
    * |years| rows; zero joins, zero sorts. The q136/q137 rewrite paths
    * would run this before/after to certify content preservation.
    */
  def q161TableChecksum(s: SparkSession, dir: String): DataFrame =
    checksumOf(Tables.orders(s, dir))

  /** The checksum transform behind q161, on any `orders`-shaped relation —
    * separated so EtlSpec can assert the layout-invariance law (identical
    * fingerprint after arbitrary repartition/reorder). */
  private[graft] def checksumOf(orders: DataFrame): DataFrame = {
    import orders.sparkSession.implicits._
    val h = conv(substring(md5(concat_ws("|",
        $"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_orderpriority")),
      1, 15), 16, 10).cast("long")
    orders
      .select(year($"o_orderdate").cast("long").as("yr"), h.as("h"))
      .groupBy($"yr")
      .agg(
        expr("bit_xor(h)").as("xor_sig"),
        count(lit(1)).as("n_rows"),
        min($"h").as("min_h"),
        max($"h").as("max_h"))
      .orderBy($"yr")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q161_table_checksum" -> (q161TableChecksum _),
    "q124_malformed_csv" -> (q124MalformedCsv _),
    "q125_file_metadata" -> (q125FileMetadata _),
    "q132_partition_upsert" -> (q132PartitionUpsert _),
    "q135_time_travel" -> (q135TimeTravel _),
    "q153_incremental_read" -> (q153IncrementalRead _),
    "q154_partition_delete" -> (q154PartitionDelete _),
    "q136_zorder_write" -> (q136ZorderWrite _),
    "q137_compaction" -> (q137Compaction _),
    "q103_calendar_dim" -> (q103CalendarDim _),
    "q97_range_clustered" -> (q97RangeClusteredWrite _),
    "q88_schema_merge" -> (q88SchemaMerge _),
    "q46_json_roundtrip" -> (q46JsonRoundtrip _),
    "q21_etl_roundtrip" -> (q21EtlRoundtrip _),
    "q47_csv_roundtrip" -> (q47CsvRoundtrip _),
    "q48_orc_roundtrip" -> (q48OrcRoundtrip _),
    "q200_xml_roundtrip" -> (q200XmlRoundtrip _),
    "q201_custom_source" -> (q201CustomSource _),
    "q202_custom_sink" -> (q202CustomSink _),
    "q203_catalog_sql" -> (q203CatalogSql _),
    "q205_bloom_skip_scan" -> (q205BloomSkipScan _),
    "q209_metadata_agg" -> (q209MetadataAgg _),
    "q211_time_travel" -> (q211TimeTravel _),
    "q217_connector_cbo" -> (q217ConnectorCbo _),
  )

  /** q217's chain — the q206 worst order (fact first, the filtered 1-row
    * region last) with the FACT read through the connector view.
    * Single-sourced so CboSpec asserts the reorder on exactly the
    * registered SQL.
    */
  private[graft] def connectorCboSql(view: String, pre: String): String =
    s"""SELECT r_name, count(*) AS n_orders,
       |  CAST(sum(o_cents) AS BIGINT) AS sum_cents,
       |  count(DISTINCT c_custkey) AS n_cust
       |FROM $view g
       |JOIN ${pre}_customer c ON g.o_custkey = c.c_custkey
       |JOIN ${pre}_nation n ON c.c_nationkey = n.n_nationkey
       |JOIN ${pre}_region r ON n.n_regionkey = r.r_regionkey
       |WHERE r.r_name = 'ASIA' AND g.o_orderpriority = '1-URGENT'
       |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** Connector statistics → CBO composition (VERDICT r12 #8 / r13
    * missing #4): the q206 worst-order chain, but the FACT side is the
    * GFWB connector read — a path-based table `ANALYZE` can never reach.
    * Its rowCount/sizeInBytes come from `FwbScan.estimateStatistics`
    * (manifest footer counts) and its `o_orderpriority` ndv from the
    * footer-dictionary union, so the DP reorderer has costs for EVERY
    * join item and rebuilds the tree from the filtered dimension outward
    * exactly as it does over catalog stats — that is the composition:
    * connector footer stats stand in for catalog statistics. Flags
    * set/try/finally with the result materialized UNDER them (the q206
    * discipline); CboSpec pins the reorder and the stats values; the
    * oracle gates the answer on parquet ground truth.
    */
  def q217ConnectorCbo(s: SparkSession, dir: String): DataFrame = {
    val pre = graft.relational.AdvancedQueries.cboPrefix(s, dir)
    val path = graft.sources.FwbFormat.writeFixture(s, dir)
    val view = s"gfwb_cbo_${graft.Scratch.tag(dir)}"
    s.read.format("graft-fwb").load(path).createOrReplaceTempView(view)
    graft.Session.withConf(s, graft.relational.AdvancedQueries.CboFlags.map(_ -> "true"): _*) {
      Materialize(s.sql(connectorCboSql(view, pre)), "q217 result")
    }
  }

  // the merged lake state recomputed from the source — base rows minus the
  // updated slice, plus the update and insert images; shared by the q132
  // and q135 oracles, whose lakes both commit the CDC batch copy-on-write
  // and must converge to this state
  private val mergedStateCte: String =
    """final AS (
      |  SELECT o_orderkey, o_orderstatus AS st, o_totalprice AS price FROM orders
      |  WHERE NOT (year(o_orderdate) = 1997 AND month(o_orderdate) <= 2
      |             AND o_orderkey % 10 = 0)
      |  UNION ALL
      |  SELECT o_orderkey, 'U',
      |    (CAST(round(o_totalprice * 100) AS BIGINT) + 500) / 100.0
      |  FROM orders
      |  WHERE year(o_orderdate) = 1997 AND month(o_orderdate) <= 2
      |    AND o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, 'I', 1000.0
      |  FROM orders
      |  WHERE year(o_orderdate) = 1997 AND month(o_orderdate) <= 2
      |    AND o_orderkey % 100 = 0
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    // same 60-bit md5 construction as PipelineQueries.hashBucket; every
    // aggregate is orderless so the comparison is layout-independent
    "q161_table_checksum" ->
      """WITH h AS (
        |  SELECT year(o_orderdate) AS yr,
        |    CAST('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
        |           o_orderstatus, o_orderpriority)), 1, 15) AS BIGINT) AS h
        |  FROM orders
        |)
        |SELECT CAST(yr AS BIGINT) AS yr, CAST(bit_xor(h) AS BIGINT) AS xor_sig,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(h) AS BIGINT) AS min_h, CAST(max(h) AS BIGINT) AS max_h
        |FROM h GROUP BY yr ORDER BY yr""".stripMargin,
    "q132_partition_upsert" ->
      s"""WITH $mergedStateCte
         |SELECT st AS o_orderstatus, count(*) AS n,
         |  round(sum(price), 2) AS total_price,
         |  max(o_orderkey) AS max_key
         |FROM final GROUP BY st ORDER BY st""".stripMargin,
    "q135_time_travel" ->
      s"""WITH $mergedStateCte
         |SELECT CAST(1 AS BIGINT) AS version, o_orderstatus, count(*) AS n,
         |  round(sum(o_totalprice), 2) AS total_price
         |FROM orders GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 2, st, count(*), round(sum(price), 2)
         |FROM final GROUP BY st
         |ORDER BY version, o_orderstatus""".stripMargin,
    "q154_partition_delete" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total_price,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
        |FROM orders
        |WHERE NOT (year(o_orderdate) = 1996 AND o_custkey % 10 = 3)
        |GROUP BY 1 ORDER BY o_year""".stripMargin,
    // v2's exclusive files are exactly the post-merge touched window: the
    // CDC updates applied latest-wins, the inserts, and the window's
    // untouched rows (copy-on-write rewrites the slice, not the deltas)
    "q153_incremental_read" ->
      """WITH w AS (
        |  SELECT * FROM orders
        |  WHERE year(o_orderdate) = 1997 AND month(o_orderdate) <= 2
        |), changed AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END AS st,
        |    CASE WHEN o_orderkey % 10 = 0
        |      THEN (CAST(round(o_totalprice * 100) AS BIGINT) + 500) / 100.0
        |      ELSE o_totalprice END AS price
        |  FROM w
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'I', 1000.0 FROM w WHERE o_orderkey % 100 = 0
        |)
        |SELECT st AS o_orderstatus, count(*) AS n,
        |  round(sum(price), 2) AS total_price, max(o_orderkey) AS max_key
        |FROM changed GROUP BY st ORDER BY st""".stripMargin,
    "q137_compaction" ->
      """SELECT CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY 1 ORDER BY o_month""".stripMargin,
    "q136_zorder_write" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |WHERE o_custkey < 100
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // c_name contains no commas, so the CSV round trip is field-exact and
    // the clean subset is the whole customer table
    "q124_malformed_csv" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(c_acctbal), 2) AS total_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q125_file_metadata" ->
      """SELECT 'orders.parquet' AS file, count(*) AS n_rows,
        |  max(o_orderkey) AS max_key
        |FROM orders""".stripMargin,
    "q103_calendar_dim" ->
      """SELECT strftime(d, '%Y-%m-%d') AS date_str,
        |  CAST(year(d) AS BIGINT) AS yr,
        |  CAST(month(d) AS BIGINT) AS mo,
        |  CAST(day(d) AS BIGINT) AS dom,
        |  CAST(weekofyear(d) AS BIGINT) AS wk,
        |  CAST(isodow(d) - 1 AS BIGINT) AS wd,
        |  CAST(quarter(d) AS BIGINT) AS qtr,
        |  CAST(CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS BIGINT) AS is_weekend
        |FROM generate_series(DATE '2024-01-01', DATE '2024-12-31', INTERVAL 1 DAY) AS t(d)
        |ORDER BY date_str""".stripMargin,
    "q97_range_clustered" ->
      """SELECT CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |GROUP BY mo ORDER BY mo""".stripMargin,
    "q88_schema_merge" ->
      """SELECT CAST(1 AS BIGINT) AS v, '(absent)' AS status,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total_price
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 2, o_orderstatus, count(*), round(sum(o_totalprice), 2)
        |FROM orders WHERE o_orderkey % 2 != 0
        |GROUP BY o_orderstatus
        |ORDER BY v, status""".stripMargin,
    "q46_json_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total_price,
        | strftime(min(o_orderdate), '%Y-%m-%d') AS first_date,
        | strftime(max(o_orderdate), '%Y-%m-%d') AS last_date
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q21_etl_roundtrip" ->
      """SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
        | count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
        |FROM orders GROUP BY 1, 2 ORDER BY o_year, o_month""".stripMargin,
    "q47_csv_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS total_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q200_xml_roundtrip" ->
      """SELECT p_type, count(*) AS n, CAST(sum(p_size) AS BIGINT) AS total_size,
        | round(sum(p_retailprice), 2) AS total_price,
        | count(DISTINCT p_brand) AS n_brands
        |FROM part GROUP BY p_type ORDER BY p_type""".stripMargin,
    // the GFWB path stores exact integer cents, so the oracle recomputes
    // them from the parquet doubles the writer started from
    "q201_custom_source" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        | count(DISTINCT o_custkey) AS n_cust
        |FROM orders WHERE o_orderkey < 1000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // any join order must produce this (the q206 oracle restated over the
    // connector's integer-cents schema); CboSpec states the plan
    "q217_connector_cbo" ->
      """SELECT r_name, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  count(DISTINCT c_custkey) AS n_cust
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA' AND o.o_orderpriority = '1-URGENT'
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q211_time_travel" ->
      """SELECT * FROM (
        | SELECT 'v1' AS snapshot, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  count(DISTINCT o_custkey) AS n_cust
        | FROM orders WHERE o_orderkey % 3 = 0
        | UNION ALL
        | SELECT 'current', count(*),
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
        |  count(DISTINCT o_custkey)
        | FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |) ORDER BY snapshot""".stripMargin,
    "q209_metadata_agg" ->
      """SELECT count(*) AS n_orders, min(o_orderkey) AS min_key,
        | max(o_orderkey) AS max_key, count(o_custkey) AS n_cust_vals
        |FROM orders""".stripMargin,
    "q205_bloom_skip_scan" ->
      """SELECT o_custkey, count(*) AS n,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_custkey IN (7, 11, 16)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q202_custom_sink" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        | count(DISTINCT o_custkey) AS n_cust
        |FROM orders WHERE o_orderkey % 3 = 0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q203_catalog_sql" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        | count(DISTINCT o_custkey) AS n_cust
        |FROM orders WHERE o_custkey % 10 = 0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q48_orc_roundtrip" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, count(*) AS n,
        | round(sum(s_acctbal), 2) AS total_bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
  )
}
