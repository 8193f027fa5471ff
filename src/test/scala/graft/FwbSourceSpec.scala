package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural laws for the GFWB DataSource V2 connector: value fidelity
  * through the binary round-trip, planning-time file skipping from footer
  * min/max, and column pruning reaching the reader's schema. These are the
  * properties the q201 oracle can't see directly (it only checks answers).
  */
class FwbSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def fwb = {
    val path = sources.FwbFormat.writeFixture(spark, sf)
    spark.read.format("graft-fwb").load(path)
  }

  test("GFWB round-trip is value-exact on every column") {
    import spark.implicits._
    val got = fwb
    val want = Tables.orders(spark, sf).select(
      $"o_orderkey", $"o_custkey",
      round($"o_totalprice" * 100).cast("long").as("o_cents"),
      $"o_orderpriority")
    assert(got.count() == want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("key-range predicate skips non-overlapping files at planning time") {
    import spark.implicits._
    // the fixture is range-partitioned into 4 files; a range inside one
    // file's span must plan exactly one partition
    val keys = fwb.select(min($"o_orderkey"), max($"o_orderkey")).collect()(0)
    val (lo, hi) = (keys.getLong(0), keys.getLong(1))
    val probe = lo + (hi - lo) / 8 // well inside the first file's range
    val df = fwb.filter($"o_orderkey" >= probe && $"o_orderkey" <= probe + 10)
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.size == 1)
    val desc = scans.head.scan.description()
    assert(desc.contains("files=1/4"), s"expected 1/4 files kept, got: $desc")
    assert(scans.head.scan.toBatch.planInputPartitions().length == 1)
    // skipping is an optimization only — answers still match the parquet side
    val want = Tables.orders(spark, sf)
      .filter($"o_orderkey" >= probe && $"o_orderkey" <= probe + 10).count()
    assert(df.count() == want && want > 0)
  }

  test("unfiltered scan keeps all files; disjoint range keeps none") {
    import spark.implicits._
    val all = fwb.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(all.head.scan.description().contains("files=4/4"))
    val none = fwb.filter($"o_orderkey" === -1L)
    val s = none.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(s.head.scan.description().contains("files=0/4"))
    assert(none.count() == 0)
  }

  test("V2 sink: overwrite round-trips exactly and is idempotent; append adds a generation") {
    import spark.implicits._
    val out = Scratch.path(s"fwb_sink_spec_${System.nanoTime()}")
    val src = Tables.orders(spark, sf).select(
      $"o_orderkey", $"o_custkey",
      round($"o_totalprice" * 100).cast("long").as("o_cents"), $"o_orderpriority")
    src.write.format("graft-fwb").mode("overwrite").save(out)
    src.write.format("graft-fwb").mode("overwrite").save(out) // truncate replaces
    val got = spark.read.format("graft-fwb").load(out)
    assert(got.count() == src.count())
    assert(got.except(src).isEmpty && src.except(got).isEmpty)
    src.write.format("graft-fwb").mode("append").save(out)
    assert(spark.read.format("graft-fwb").load(out).count() == 2 * src.count())
    // no staged leftovers after successful commits
    assert(!new java.io.File(out).listFiles().exists(_.getName.endsWith(".tmp")))
  }

  test("V2 sink: a failed job leaves the previous generation untouched (two-phase commit)") {
    import spark.implicits._
    val out = Scratch.path(s"fwb_abort_spec_${System.nanoTime()}")
    val src = Tables.orders(spark, sf).select(
      $"o_orderkey", $"o_custkey",
      round($"o_totalprice" * 100).cast("long").as("o_cents"), $"o_orderpriority")
    src.write.format("graft-fwb").mode("overwrite").save(out)
    val before = spark.read.format("graft-fwb").load(out).count()
    // poison one row mid-write: the job fails AFTER some tasks have staged
    val poisoned = src.withColumn("o_cents",
      when($"o_orderkey" === 42L,
        expr("raise_error('poison')").cast("long")).otherwise($"o_cents"))
    intercept[Exception] {
      poisoned.write.format("graft-fwb").mode("overwrite").save(out)
    }
    // previous generation fully intact, no staged garbage promoted
    assert(spark.read.format("graft-fwb").load(out).count() == before)
    assert(spark.read.format("graft-fwb").load(out).except(src).isEmpty)
  }

  test("catalog plugin: name-resolved SQL equals the path-based read; DDL is refused") {
    import spark.implicits._
    val cat = s"graft_${Scratch.tag(sf)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.sfdir", sf)
    val viaCatalog = spark.sql(s"SELECT * FROM $cat.default.orders_fwb")
    assert(viaCatalog.count() == fwb.count())
    assert(viaCatalog.except(fwb).isEmpty && fwb.except(viaCatalog).isEmpty)
    // discovery surface works through the same plugin
    assert(spark.sql(s"SHOW TABLES IN $cat.default").collect()
      .map(_.getString(1)).toSeq == Seq("orders_fwb"))
    // pushdown survives name resolution: a tight range still skips files
    val keys = fwb.select(min($"o_orderkey")).collect()(0).getLong(0)
    val filtered = spark.sql(
      s"SELECT count(*) FROM $cat.default.orders_fwb WHERE o_orderkey = $keys")
    val desc = PlanWalk.allNodes(filtered.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan.description() }
    assert(desc.exists(_.contains("files=1/4")), s"descs: $desc")
    // read-only DDL posture: catalog-managed definitions, no ad-hoc DROP
    intercept[Exception] {
      spark.sql(s"DROP TABLE $cat.default.orders_fwb")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.default.orders_fwb")
      .collect()(0).getLong(0) == fwb.count())
  }

  test("streaming read: micro-batches are exactly the file deltas; stream total == batch") {
    import spark.implicits._
    val out = Scratch.path(s"fwb_stream_${System.nanoTime()}")
    val mem = s"fwb_mem_${System.nanoTime()}"
    val src = Tables.orders(spark, sf).select(
      $"o_orderkey", $"o_custkey",
      round($"o_totalprice" * 100).cast("long").as("o_cents"), $"o_orderpriority")
    val gen1 = src.filter($"o_orderkey" % 2 === 0)
    val gen2 = src.filter($"o_orderkey" % 2 === 1)
    gen1.write.format("graft-fwb").mode("append").save(out)
    val q = spark.readStream.format("graft-fwb").load(out)
      .writeStream.format("memory").queryName(mem).outputMode("append").start()
    q.processAllAvailable()
    // first micro-batch = exactly generation 1
    assert(spark.table(mem).count() == gen1.count())
    gen2.write.format("graft-fwb").mode("append").save(out)
    q.processAllAvailable()
    q.stop()
    // second micro-batch = exactly the delta; union is the full table
    val got = spark.table(mem)
    assert(got.count() == src.count())
    assert(got.except(src).isEmpty && src.except(got).isEmpty)
    // processing was ∝ delta: no batch re-read generation 1's rows
    val perBatch = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    assert(perBatch == Seq(gen1.count(), gen2.count()), s"per-batch rows: $perBatch")
  }

  test("manifest-backed planning opens zero data files; fallback footer reads still plan correctly") {
    import spark.implicits._
    val path = sources.FwbFormat.writeFixture(spark, sf)
    val manifest = new java.io.File(path, sources.FwbFormat.ManifestName)
    assert(manifest.exists(), "commit must leave a stats manifest")
    // planning (plan + skip decision + partition list) from the manifest:
    // ZERO footer reads — the O(files) driver loop is gone (VERDICT r11)
    val before = sources.FwbFormat.footerReads.get()
    val df = fwb.filter($"o_orderkey" >= 0L)
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.head.scan.toBatch.planInputPartitions().length == 4)
    assert(sources.FwbFormat.footerReads.get() == before,
      "manifest-backed planning must not read data-file footers")
    // EXECUTION reads footers (per-task record counts/dicts) — that is
    // the data path, not the planning loop
    assert(df.count() > 0)
    // unmanifested directories degrade to footer-read planning, same plan
    val bare = Scratch.path(s"fwb_nomanifest_${System.nanoTime()}")
    new java.io.File(bare).mkdirs()
    new java.io.File(path).listFiles().filter(_.getName.endsWith(".gfwb")).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(bare, f.getName).toPath)
    }
    val b0 = sources.FwbFormat.footerReads.get()
    val bareDf = spark.read.format("graft-fwb").load(bare).filter($"o_orderkey" >= 0L)
    val bareScan = bareDf.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head
    assert(bareScan.scan.toBatch.planInputPartitions().length == 4)
    assert(sources.FwbFormat.footerReads.get() > b0, "fallback path must read footers")
    assert(bareDf.count() == df.count())
  }

  test("custkey bloom skips files at planning time; probes are residual-safe") {
    import spark.implicits._
    // plant knowledge: a custkey that occurs in exactly one fixture file
    // (read via the manifest the committer wrote)
    val path = sources.FwbFormat.writeFixture(spark, sf)
    val manifest = sources.FwbFormat.readManifest(path)
    assert(manifest.size == 4)
    val byFile = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ranges = manifest.values.map(st => (st.minKey, st.maxKey)).toSeq
    def filesOf(ck: Long): Int = ranges.count { case (lo, hi) =>
      byFile.exists { case (ok, c) => c == ck && ok >= lo && ok <= hi }
    }
    val single = byFile.map(_._2).distinct.find(filesOf(_) == 1)
      .getOrElse(fail("no custkey confined to one file at this sf"))
    val df = fwb.filter($"o_custkey" === single)
    val desc = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head.scan.description()
    assert(desc.contains("files=1/4"), s"bloom should keep 1 file: $desc")
    assert(desc.contains(s"pushedCustKeys={$single}"), desc)
    // residual safety: the kept file still filters row-level, match parquet
    val want = byFile.count(_._2 == single)
    assert(df.count() == want && want > 0)
    // an absent key plans zero files and returns zero rows
    val absent = fwb.filter($"o_custkey" === -7L)
    val adesc = absent.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head.scan.description()
    assert(adesc.contains("files=0/4"), s"absent key should skip all: $adesc")
    assert(absent.count() == 0)
    // IN-list keeps the union of its members' files
    val inDf = fwb.filter($"o_custkey".isin(single, -7L))
    val idesc = inDf.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head.scan.description()
    assert(idesc.contains("files=1/4"), s"IN should keep the union: $idesc")
    assert(inDf.count() == want)
  }

  test("streaming write: GFWB→GFWB stream equals the batch copy; epoch replay is idempotent") {
    import spark.implicits._
    val src = Scratch.path(s"fwb_sw_src_${System.nanoTime()}")
    val dst = Scratch.path(s"fwb_sw_dst_${System.nanoTime()}")
    val cp = Scratch.path(s"fwb_sw_cp_${System.nanoTime()}")
    val rows = Tables.orders(spark, sf).select(
      $"o_orderkey", $"o_custkey",
      round($"o_totalprice" * 100).cast("long").as("o_cents"), $"o_orderpriority")
    val gen1 = rows.filter($"o_orderkey" % 2 === 0)
    val gen2 = rows.filter($"o_orderkey" % 2 === 1)
    gen1.write.format("graft-fwb").mode("append").save(src)
    // connector-to-connector: streaming read of a growing dir feeding the
    // streaming epoch-commit sink — all four surfaces in one pipeline
    val q = spark.readStream.format("graft-fwb").load(src)
      .writeStream.format("graft-fwb")
      .option("path", dst).option("checkpointLocation", cp)
      .outputMode("append").start()
    q.processAllAvailable()
    gen2.write.format("graft-fwb").mode("append").save(src)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.format("graft-fwb").load(dst)
    assert(got.count() == rows.count())
    assert(got.except(rows).isEmpty && rows.except(got).isEmpty)
    // stream-written dir planned from its manifest like any committed dir
    assert(new java.io.File(dst, sources.FwbFormat.ManifestName).exists())
    assert(!new java.io.File(dst).listFiles().exists(_.getName.endsWith(".tmp")))
    // epoch replay: re-driving an already-committed epoch's staged files
    // through commit() must drop the copies, not duplicate the data
    val sw = new sources.FwbStreamingWrite(dst)
    val dict = Array("P"); val codeOf = Map("P" -> 0)
    val staged = s"$dst/.e99-p0-777.gfwb.tmp"
    val st = sources.FwbFormat.writeFile(staged,
      Iterator(org.apache.spark.sql.Row(1L, 1L, 100L, "P")), dict, codeOf).get
    sw.commit(99L, Array(sources.FwbCommitMessage(staged, st)))
    val afterFirst = spark.read.format("graft-fwb").load(dst).count()
    val staged2 = s"$dst/.e99-p0-888.gfwb.tmp" // the replay, different attempt
    sources.FwbFormat.writeFile(staged2,
      Iterator(org.apache.spark.sql.Row(1L, 1L, 100L, "P")), dict, codeOf)
    sw.commit(99L, Array(sources.FwbCommitMessage(staged2, st)))
    assert(spark.read.format("graft-fwb").load(dst).count() == afterFirst,
      "replayed epoch must not add rows")
    assert(!new java.io.File(dst).listFiles().exists(_.getName.endsWith(".tmp")),
      "replayed stage must be cleaned up")
  }

  test("a corrupt manifest entry fails with an IOException naming the manifest and the field") {
    val dir = Scratch.path(s"fwb_badmanifest_${System.nanoTime()}")
    new java.io.File(dir).mkdirs()
    sources.FwbFormat.writeFile(s"$dir/part-0.gfwb",
      Iterator(org.apache.spark.sql.Row(1L, 1L, 10L, "P")), Array("P"), Map("P" -> 0)).get
    val manifest = new java.io.File(dir, sources.FwbFormat.ManifestName)
    def entry(name: String, n: Long = 1L, min: Long = 1L, bloom: String = "") =
      s"""{"$name":{"n":$n,"min":$min,"max":1,"dict":["P"],"bloom":"$bloom"}}"""
    val lies = Seq(
      entry("part-0.gfwb", n = -1L) -> "n is -1",
      entry("../x.gfwb") -> "file name is ../x.gfwb",
      entry("part-0.gfwb", min = 2L) -> "min is 2 > max 1",
      entry("part-0.gfwb", bloom = "AAAA") -> "bloom length is 3")
    for ((json, field) <- lies) {
      java.nio.file.Files.writeString(manifest.toPath, json)
      val e = intercept[java.io.IOException](sources.FwbFormat.readManifest(dir))
      assert(e.getMessage.contains(manifest.getPath) && e.getMessage.contains(field), e.getMessage)
    }
    // the scan plans from the manifest, so it fails the same way
    val viaScan = intercept[Exception](spark.read.format("graft-fwb").load(dir).collect())
    assert(Iterator.iterate(viaScan: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => t.isInstanceOf[java.io.IOException] && t.getMessage.contains("bloom length")),
      viaScan.toString)
  }

  test("a lying footer or record fails with an IOException naming the path and the field") {
    // a 3-record file with a 2-entry dictionary, corrupted four ways;
    // each copy sits alone in a directory without a manifest, so planning
    // reads its footer
    val root = Scratch.path(s"fwb_corrupt_${System.nanoTime()}")
    new java.io.File(root).mkdirs()
    val good = s"$root/good.gfwb"
    sources.FwbFormat.writeFile(good,
      Iterator(1L, 2L, 3L).map(k => org.apache.spark.sql.Row(k, k, k * 10L, if (k == 2L) "Q" else "P")),
      Array("P", "Q"), Map("P" -> 0, "Q" -> 1)).get
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(good))
    val footerStart = 3 * sources.FwbFormat.RecordBytes
    val bloomLenAt = footerStart + 24 + 4 + 2 * (4 + 1)
    def corrupted(name: String)(edit: java.nio.ByteBuffer => Unit): String = {
      val dir = s"$root/$name"
      new java.io.File(dir).mkdirs()
      val b = java.nio.ByteBuffer.wrap(bytes.clone())
      edit(b)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part-0.gfwb"), b.array())
      s"$dir/part-0.gfwb"
    }
    def ioCause(t: Throwable): Option[java.io.IOException] = t match {
      case null => None
      case io: java.io.IOException => Some(io)
      case other => ioCause(other.getCause)
    }
    val footerLies = Seq(
      corrupted("count4")(_.putLong(footerStart, 4L)) -> "record count is 4",
      corrupted("count2")(_.putLong(footerStart, 2L)) -> "record count is 2",
      corrupted("bloom")(_.putInt(bloomLenAt, Int.MaxValue - 8)) -> s"bloom length is ${Int.MaxValue - 8}")
    for ((file, field) <- footerLies) {
      val e = intercept[java.io.IOException](sources.FwbFormat.readFooter(file))
      assert(e.getMessage.contains(file) && e.getMessage.contains(field), e.getMessage)
      val viaScan = intercept[Exception](
        spark.read.format("graft-fwb").load(new java.io.File(file).getParent).collect())
      assert(ioCause(viaScan).exists(_.getMessage.contains(field)), viaScan.toString)
    }
    // a record's priority code 7 against the 2-entry dictionary
    val badCode = corrupted("code7")(_.put(sources.FwbFormat.RecordBytes + 24, 7.toByte))
    val e = intercept[Exception](
      spark.read.format("graft-fwb").load(new java.io.File(badCode).getParent).collect())
    val io = ioCause(e)
    assert(io.exists(m => m.getMessage.contains(badCode) && m.getMessage.contains("priority code 7")), e.toString)
    // the uncorrupted file still reads all three rows
    val ok = corrupted("ok")(_ => ())
    assert(spark.read.format("graft-fwb").load(new java.io.File(ok).getParent).count() == 3)
  }

  test("epoch replay never overwrites committed manifest stats; a missing entry still self-heals") {
    // ADVICE r13: a replay whose staged bytes differ from the committed
    // file (partition routing can change across a restart) must NOT
    // replace the manifest entry — the entry describes the committed
    // bytes, and metadata-only COUNT/MIN/MAX pushdowns answer from it.
    // The self-healing path (prior attempt crashed between rename and
    // manifest write → entry absent) must still adopt the replay stats.
    val dst = Scratch.path(s"fwb_replay_${System.nanoTime()}")
    new java.io.File(dst).mkdirs()
    val sw = new sources.FwbStreamingWrite(dst)
    val dict = Array("P"); val codeOf = Map("P" -> 0)
    def stage(task: Int, rows: Seq[Long]): (String, sources.FwbFormat.FwbStats) = {
      val p = s"$dst/.e7-p0-$task.gfwb.tmp"
      val st = sources.FwbFormat.writeFile(p,
        rows.iterator.map(k => org.apache.spark.sql.Row(k, k, k * 10L, "P")),
        dict, codeOf).get
      (p, st)
    }
    // FwbStats holds arrays (reference equality) — compare by field
    def statsEq(a: sources.FwbFormat.FwbStats, b: sources.FwbFormat.FwbStats): Boolean =
      a.n == b.n && a.minKey == b.minKey && a.maxKey == b.maxKey &&
        a.dict.sameElements(b.dict) && a.custBloom.sameElements(b.custBloom)
    val (p1, st1) = stage(1, Seq(1L, 2L, 3L))
    sw.commit(7L, Array(sources.FwbCommitMessage(p1, st1)))
    val fin = "part-e7-p0.gfwb"
    assert(statsEq(sources.FwbFormat.readManifest(dst)(fin), st1))
    // replay with DIVERGENT stats (one row instead of three)
    val (p2, st2) = stage(2, Seq(9L))
    assert(!statsEq(st2, st1))
    sw.commit(7L, Array(sources.FwbCommitMessage(p2, st2)))
    assert(statsEq(sources.FwbFormat.readManifest(dst)(fin), st1),
      "replay overwrote the committed file's manifest stats")
    // self-heal: drop the entry (simulating the crash window), replay
    // again with DIVERGENT staged bytes (ADVICE r14: routing can change
    // across the restart, so the replay's stats describe bytes that were
    // just discarded) — the heal must adopt the COMMITTED file's footer
    // stats (st1), never the replay's (st3)
    new java.io.File(dst, sources.FwbFormat.ManifestName).delete()
    val (p3, st3) = stage(3, Seq(42L))
    assert(!statsEq(st3, st1))
    sw.commit(7L, Array(sources.FwbCommitMessage(p3, st3)))
    assert(statsEq(sources.FwbFormat.readManifest(dst)(fin), st1),
      "heal must describe the committed bytes, not the discarded replay")
  }

  test("aggregate pushdown: whole-table COUNT/MIN/MAX is metadata-only; filtered aggregates fall back") {
    import spark.implicits._
    sources.FwbFormat.writeFixture(spark, sf) // ensure fixture+manifest exist
    val before = sources.FwbFormat.footerReads.get()
    val df = fwb.agg(count(lit(1)).as("n"), min($"o_orderkey").as("mn"),
      max($"o_orderkey").as("mx"), count($"o_custkey").as("nc"))
    val descs = PlanWalk.allNodes(df.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan.description() }
    assert(descs.exists(_.contains("METADATA-ONLY")),
      s"aggregate not pushed, descs: $descs")
    val row = df.collect()(0)
    // the whole plan+execution opened ZERO data files: stats came from
    // the manifest, the "scan" emitted one precomputed row
    assert(sources.FwbFormat.footerReads.get() == before,
      "metadata-only aggregate read a data-file footer")
    val want = Tables.orders(spark, sf)
      .agg(count(lit(1)), min($"o_orderkey"), max($"o_orderkey")).collect()(0)
    assert(row.getLong(0) == want.getLong(0) && row.getLong(3) == want.getLong(0))
    assert(row.getLong(1) == want.getLong(1) && row.getLong(2) == want.getLong(2))
    // a FILTERED aggregate needs the records — it must NOT claim the
    // metadata answer (a pushed filtered count would be a wrong answer)
    val filtered = fwb.filter($"o_orderkey" > 100L).agg(count(lit(1)))
    val fdescs = PlanWalk.allNodes(filtered.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan.description() }
    assert(!fdescs.exists(_.contains("METADATA-ONLY")), s"filtered agg pushed: $fdescs")
    val fwant = Tables.orders(spark, sf).filter($"o_orderkey" > 100L).count()
    assert(filtered.collect()(0).getLong(0) == fwant)
    // so must a grouped aggregate
    val grouped = fwb.groupBy($"o_orderpriority").agg(count(lit(1)))
    val gdescs = PlanWalk.allNodes(grouped.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan.description() }
    assert(!gdescs.exists(_.contains("METADATA-ONLY")), s"grouped agg pushed: $gdescs")
  }

  test("time travel: versionAsOf reconstructs each commit exactly; reconstructability ends loudly at truncate") {
    import spark.implicits._
    val out = Scratch.path(s"fwb_tt_spec_${System.nanoTime()}")
    val src = Tables.orders(spark, sf).select(
      $"o_orderkey", $"o_custkey",
      round($"o_totalprice" * 100).cast("long").as("o_cents"), $"o_orderpriority")
    val gen1 = src.filter($"o_orderkey" % 3 === 0)
    val gen2 = src.filter($"o_orderkey" % 3 === 1)
    gen1.write.format("graft-fwb").mode("overwrite").save(out) // v1
    gen2.write.format("graft-fwb").mode("append").save(out) // v2
    assert(lake.Log.versions(out) == Seq(1, 2))
    def at(v: Int) = spark.read.format("graft-fwb")
      .option("versionAsOf", v.toString).load(out)
    // v1 is EXACTLY generation 1 — the later append is invisible
    assert(at(1).count() == gen1.count())
    assert(at(1).except(gen1).isEmpty && gen1.except(at(1)).isEmpty)
    // v2 == the current state
    val cur = spark.read.format("graft-fwb").load(out)
    assert(at(2).count() == cur.count() && at(2).except(cur).isEmpty)
    // skipping and metadata-only aggregation respect the snapshot
    val aggV1 = at(1).agg(count(lit(1))).collect()(0).getLong(0)
    assert(aggV1 == gen1.count(), "pushed aggregate leaked across versions")
    // unknown version fails loudly
    intercept[Exception] { at(99).count() }
    // streaming refuses time travel rather than silently ignoring it
    intercept[Exception] {
      spark.readStream.format("graft-fwb").option("versionAsOf", "1").load(out)
        .writeStream.format("memory").queryName(s"tt_${System.nanoTime()}")
        .outputMode("append").start().processAllAvailable()
    }
    // a truncate ends reconstructability of older versions — LOUDLY
    gen2.write.format("graft-fwb").mode("overwrite").save(out) // v3, deletes v1/v2 files
    intercept[Exception] { at(1).count() }
    assert(spark.read.format("graft-fwb").load(out).count() == gen2.count())
  }

  test("concurrent appends: every commit lands on its own version and none drops another's files") {
    import scala.concurrent._
    import scala.concurrent.duration._
    import spark.implicits._
    val out = Scratch.path(s"fwb_occ_${System.nanoTime()}")
    Tables.orders(spark, sf).select(
      $"o_orderkey", $"o_custkey",
      round($"o_totalprice" * 100).cast("long").as("o_cents"), $"o_orderpriority")
      .write.format("graft-fwb").mode("overwrite").save(out) // v1
    val dict = Array("P"); val codeOf = Map("P" -> 0)
    // 8 appenders race: each stages one file and commits it as a batch job
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 8).map { i =>
        Future {
          val staged = s"$out/.occ$i-0-0.gfwb.tmp"
          val st = sources.FwbFormat.writeFile(staged,
            Iterator(org.apache.spark.sql.Row(-i.toLong, 1L, 100L, "P")), dict, codeOf).get
          new sources.FwbWrite(out, sources.FwbFormat.schema, truncate = false)
            .commit(Array(sources.FwbCommitMessage(staged, st)))
        }
      }
      Await.result(Future.sequence(futures), 60.seconds)
    } finally pool.shutdown()
    assert(lake.Log.versions(out) == (1 to 9))
    val listed = new java.io.File(out).listFiles().count(_.getName.endsWith(".gfwb"))
    val v9 = spark.read.format("graft-fwb").option("versionAsOf", "9").load(out)
    val desc = v9.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b.scan.description() }.head
    assert(desc.contains(s"files=$listed/$listed"), s"v9 lost a file: $desc")
    assert(v9.filter($"o_orderkey" < 0L).count() == 8)
  }

  test("empty table: MIN/MAX answers NULL via the normal scan, counts stay metadata-only; option hygiene") {
    import spark.implicits._
    val out = Scratch.path(s"fwb_empty_spec_${System.nanoTime()}")
    new java.io.File(out).mkdirs()
    val empty = spark.read.format("graft-fwb").load(out)
    // ADVICE r12: min/max over an empty dir used to throw at PLANNING;
    // SQL semantics is one NULL row, same as the un-pushed path
    val row = empty.agg(min($"o_orderkey").as("mn"), max($"o_orderkey").as("mx"),
      count(lit(1)).as("n")).collect()(0)
    assert(row.isNullAt(0) && row.isNullAt(1) && row.getLong(2) == 0L)
    // COUNT alone keeps the metadata-only fast path (0 is the stats answer)
    val cdf = empty.agg(count(lit(1)).as("n"))
    val cdescs = PlanWalk.allNodes(cdf.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan.description() }
    assert(cdescs.exists(_.contains("METADATA-ONLY")), s"count not pushed: $cdescs")
    assert(cdf.collect()(0).getLong(0) == 0L)
    // versionAsOf is a read concept: the write path refuses it loudly
    val src = Tables.orders(spark, sf).limit(5).select(
      $"o_orderkey", $"o_custkey",
      round($"o_totalprice" * 100).cast("long").as("o_cents"), $"o_orderpriority")
    val wex = intercept[Exception] {
      src.write.format("graft-fwb").option("versionAsOf", "1").mode("append").save(out)
    }
    assert(wex.getMessage.contains("versionAsOf"), s"uncontextual: ${wex.getMessage}")
    // malformed versionAsOf names the connector and the option
    val rex = intercept[Exception] {
      spark.read.format("graft-fwb").option("versionAsOf", "latest").load(out).count()
    }
    assert(rex.getMessage != null && rex.getMessage.contains("graft-fwb"),
      s"bare parse error leaked: $rex")
  }

  test("column pruning reaches the reader: a 1-column aggregate reads 1 field") {
    import spark.implicits._
    val df = fwb.agg(sum($"o_cents").as("total"))
    val scans = PlanWalk.allNodes(df.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b }
    assert(scans.size == 1)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("o_cents"))
    // and the pruned read still sums exactly
    val want = Tables.orders(spark, sf)
      .agg(sum(round($"o_totalprice" * 100).cast("long"))).collect()(0).getLong(0)
    assert(df.collect()(0).getLong(0) == want)
  }
}
