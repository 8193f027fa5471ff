package graft

import org.apache.spark.sql.functions.{lit, month, round, year}
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.EtlQueries

/** One CDC row in the orders-lake schema (for the MemoryStream source). */
case class CdcRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: java.time.LocalDateTime,
    o_orderpriority: String, o_year: Int, o_month: Int)

/** The partition-scoping claim of q132's MERGE path is physical: a CDC
  * batch touching (1997, 1–2) must leave every other partition's files
  * byte-for-byte untouched — not just value-equal. The oracle pins the
  * merged values; this spec pins the IO scope.
  */
class UpsertSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def md5(f: java.io.File): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Files.readAllBytes(f.toPath))
      .map(b => f"$b%02x").mkString

  /** relative-path → content-md5 of every data file under the lake root */
  private def snapshot(root: java.io.File): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq(f)
    walk(root)
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      .map(f => root.toPath.relativize(f.toPath).toString -> md5(f))
      .toMap
  }

  test("q132 upsert rewrites only the touched partitions; untouched files are byte-identical") {
    import spark.implicits._
    val out = EtlQueries.upsertLakePath(sf)
    EtlQueries.writeUpsertBase(spark, sf, out)
    val root = new java.io.File(out)
    val before = snapshot(root)
    assert(before.nonEmpty)

    EtlQueries.applyUpsert(spark, out, EtlQueries.upsertCdc(spark, sf),
      $"o_year" === 1997 && $"o_month" <= 2)
    val after = snapshot(root)

    def touched(p: String) =
      p.startsWith("o_year=1997/o_month=1/") || p.startsWith("o_year=1997/o_month=2/")
    // untouched partitions: same file set, same bytes
    assert(before.filterNot(kv => touched(kv._1)) == after.filterNot(kv => touched(kv._1)),
      "untouched partition files must be byte-identical across the upsert")
    // touched partitions really were rewritten (new file names under overwrite)
    assert(before.keys.exists(touched) && after.keys.exists(touched))
    assert(before.view.filterKeys(touched).toMap != after.view.filterKeys(touched).toMap,
      "touched partitions must change")

    // merged content: every update key flipped to U, inserts present,
    // row count = base + inserts (updates replace, never duplicate)
    val cur = spark.read.parquet(out).cache()
    try {
      val window = Tables.orders(spark, sf)
        .filter(year($"o_orderdate") === 1997 && month($"o_orderdate") <= 2)
      val expU = window.filter($"o_orderkey" % 10 === 0).count()
      val expI = window.filter($"o_orderkey" % 100 === 0).count()
      val baseN = Tables.orders(spark, sf).count()
      assert(expU > 0 && expI > 0, "fixture must exercise both update and insert paths")
      assert(cur.filter($"o_orderstatus" === "U").count() == expU)
      assert(cur.filter($"o_orderstatus" === "I").count() == expI)
      assert(cur.count() == baseN + expI)
    } finally cur.unpersist()
  }

  test("q154 delete rewrites only the 1996 partitions; untouched files byte-identical; rows gone") {
    import spark.implicits._
    val out = EtlQueries.deleteLakePath(sf)
    // fresh base so the byte-identity baseline is the pre-delete lake
    // (a prior q154 run leaves the marker + an already-deleted lake)
    EtlQueries.writeUpsertBase(spark, sf, out)
    new java.io.File(s"$out/_base_complete").createNewFile()
    val root = new java.io.File(out)
    val before = snapshot(root)
    val baseN = spark.read.parquet(out).count()
    val expDeleted = Tables.orders(spark, sf)
      .filter(year($"o_orderdate") === 1996 && $"o_custkey" % 10 === 3).count()
    assert(expDeleted > 0, "fixture must delete something")

    EtlQueries.applyDelete(spark, out, $"o_year" === 1996, $"o_custkey" % 10 === 3)
    val after = snapshot(root)
    def touched(p: String) = p.startsWith("o_year=1996/")
    assert(before.filterNot(kv => touched(kv._1)) == after.filterNot(kv => touched(kv._1)),
      "untouched partition files must be byte-identical across the delete")
    assert(before.keys.exists(touched) && after.keys.exists(touched))
    assert(before.view.filterKeys(touched).toMap != after.view.filterKeys(touched).toMap)

    val cur = spark.read.parquet(out)
    assert(cur.filter($"o_year" === 1996 && $"o_custkey" % 10 === 3).count() == 0)
    assert(cur.count() == baseN - expDeleted)
    // a delete that would fully empty a touched partition fails loudly
    intercept[IllegalArgumentException] {
      EtlQueries.applyDelete(spark, out, $"o_year" === 1996, lit(true))
    }
  }

  test("q135 versioned lake: copy-on-write reuse, and v1 stays intact after the v2 commit") {
    import spark.implicits._
    val out = EtlQueries.versionedLakePath(sf)
    EtlQueries.commitVersions(spark, sf, out)
    val m1 = EtlQueries.readManifest(s"$out/manifests/1").toSet
    val m2 = EtlQueries.readManifest(s"$out/manifests/2").toSet
    // copy-on-write: untouched data files are shared BY REFERENCE between
    // versions; each version additionally owns its touched slice
    val shared = m1.intersect(m2)
    assert(shared.nonEmpty && shared.forall(_.contains("/data/v1u/")))
    assert((m1 -- m2).forall(_.contains("/data/v1t/")))
    assert((m2 -- m1).forall(_.contains("/data/v2t/")))
    assert((m1 -- m2).nonEmpty && (m2 -- m1).nonEmpty)
    // snapshot isolation: reading v1 AFTER the v2 commit still yields the
    // base state — no U/I images, full original row count
    val v1 = EtlQueries.readVersion(spark, out, 1)
    assert(v1.count() == Tables.orders(spark, sf).count())
    assert(v1.filter($"o_orderstatus".isin("U", "I")).count() == 0)
    // v2 is the merged state (update/insert counts match the CDC derivation)
    val window = Tables.orders(spark, sf)
      .filter(year($"o_orderdate") === 1997 && month($"o_orderdate") <= 2)
    val v2 = EtlQueries.readVersion(spark, out, 2)
    assert(v2.filter($"o_orderstatus" === "U").count() ==
      window.filter($"o_orderkey" % 10 === 0).count())
    assert(v2.count() == Tables.orders(spark, sf).count() +
      window.filter($"o_orderkey" % 100 === 0).count())
  }

  test("streaming CDC sink: two micro-batches of foreachBatch upserts == one batch merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // reference: the one-shot batch merge
    val ref = EtlQueries.upsertLakePath(sf) + "_ref"
    EtlQueries.writeUpsertBase(spark, sf, ref)
    EtlQueries.applyUpsert(spark, ref, EtlQueries.upsertCdc(spark, sf),
      $"o_year" === 1997 && $"o_month" <= 2)
    // streamed: the same CDC rows split across two micro-batches with
    // OVERLAPPING partitions (batch 2 must preserve batch 1's changes)
    val streamed = EtlQueries.upsertLakePath(sf) + "_stream"
    EtlQueries.writeUpsertBase(spark, sf, streamed)
    val cdc = EtlQueries.upsertCdc(spark, sf).as[CdcRow].collect().toSeq
    val (b1, b2) = cdc.partition(_.o_orderkey % 20 == 0)
    assert(b1.nonEmpty && b2.nonEmpty)
    val source = MemoryStream[CdcRow](
      implicitly[org.apache.spark.sql.Encoder[CdcRow]], spark.sqlContext)
    val q = graft.streaming.StreamingOps
      .cdcUpsertSink(source.toDF(), streamed).start()
    try {
      source.addData(b1); q.processAllAvailable()
      source.addData(b2); q.processAllAvailable()
    } finally q.stop()
    def state(p: String): Seq[String] =
      spark.read.parquet(p)
        .select($"o_orderkey", $"o_orderstatus", round($"o_totalprice", 2))
        .collect().map(_.toString).sorted.toSeq
    assert(state(streamed) == state(ref), "streamed merge must equal the batch merge")
  }

  test("cdc sink replay: re-delivering an already-applied batch leaves the lake state unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // foreachBatch is at-least-once: after a crash between the merge and
    // the offset commit, the SAME micro-batch is re-delivered on restart.
    // The sink's correctness claim (StreamingOps.cdcUpsertSink scaladoc)
    // is that re-applying converges — latest-wins makes the merge
    // idempotent, so the replayed run must reproduce the state exactly.
    val path = EtlQueries.upsertLakePath(sf) + "_replay"
    EtlQueries.writeUpsertBase(spark, sf, path)
    val cdc = EtlQueries.upsertCdc(spark, sf).as[CdcRow].collect().toSeq
    def deliver(): Unit = {
      val source = MemoryStream[CdcRow](
        implicitly[org.apache.spark.sql.Encoder[CdcRow]], spark.sqlContext)
      val q = graft.streaming.StreamingOps.cdcUpsertSink(source.toDF(), path).start()
      try { source.addData(cdc); q.processAllAvailable() } finally q.stop()
    }
    def state(): Seq[String] =
      spark.read.parquet(path)
        .select($"o_orderkey", $"o_orderstatus", round($"o_totalprice", 2))
        .collect().map(_.toString).sorted.toSeq
    deliver()
    val first = state()
    deliver() // full re-delivery of the same batch
    assert(state() == first, "replayed batch must converge to the same lake state")
  }

  test("cdc sink fails loudly when a batch exceeds the partition-list cap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // 5 distinct (o_year, o_month) partitions against a cap of 3: the sink
    // must fail the query instead of materializing an unbounded driver list
    val rows = (1 to 5).map(m => CdcRow(m.toLong, 1L, "U", 1.0,
      java.time.LocalDateTime.of(1997, m, 1, 0, 0), "P", 1997, m))
    val source = MemoryStream[CdcRow](
      implicitly[org.apache.spark.sql.Encoder[CdcRow]], spark.sqlContext)
    val q = graft.streaming.StreamingOps.cdcUpsertSink(
      source.toDF(), EtlQueries.upsertLakePath(sf) + "_cap", maxPartitionsPerBatch = 3).start()
    val ex = intercept[Exception] {
      try { source.addData(rows); q.processAllAvailable() } finally q.stop()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("metadata-sized"), s"unexpected failure: $messages")
  }

  test("q137 compaction: fragmented partitions collapse to one file each, content invariant") {
    assert(EtlQueries.q137Compaction(spark, sf).collect().nonEmpty)
    def filesPerDir(root: String): Map[String, Int] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val rootPath = new java.io.File(root).toPath
      walk(new java.io.File(root))
        .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
        .groupBy(f => rootPath.relativize(f.getParentFile.toPath).toString)
        .view.mapValues(_.size).toMap
    }
    val frag = filesPerDir(Scratch.path(s"compaction_frag_${Scratch.tag(sf)}"))
    val out = filesPerDir(Scratch.path(s"compaction_out_${Scratch.tag(sf)}"))
    assert(frag.values.max > 1, s"fixture must be fragmented: $frag")
    assert(out.values.forall(_ == 1), s"compaction must leave one file per partition: $out")
    assert(out.keySet == frag.keySet, "compaction must preserve the partition set")
    // content invariance beyond the oracle's aggregate: row counts match
    // the compacted scope (the 1997 partitions)
    import spark.implicits._
    assert(spark.read.parquet(Scratch.path(s"compaction_out_${Scratch.tag(sf)}")).count() ==
      Tables.orders(spark, sf).filter(year($"o_orderdate") === 1997).count())
  }

  test("optimistic concurrency: a losing writer detects the conflict, rebases, and no update is lost") {
    import spark.implicits._
    def clean(root: String): Unit = {
      val d = new java.io.File(root)
      if (d.exists()) {
        java.nio.file.Files.walk(d.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => p.toFile.delete())
      }
    }
    // manifests 3/4 from a previous run of THIS test would survive in
    // scratch and shift currentVersion — start from a clean lake
    val out = EtlQueries.versionedLakePath(sf) + "_occ"
    clean(out)
    EtlQueries.commitVersions(spark, sf, out) // v1 (base) + v2 (merged) exist
    assert(Scratch.currentVersion(EtlQueries.manifestLog(out)) == 2)
    // two writers' APPENDS: immutable data files written up front — only
    // the manifest publish is contended
    Seq((900000001L, "A")).toDF("o_orderkey", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$out/data/occA")
    Seq((900000002L, "B"), (900000003L, "B")).toDF("o_orderkey", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$out/data/occB")
    val filesA = EtlQueries.dataFiles(s"$out/data/occA")
    val filesB = EtlQueries.dataFiles(s"$out/data/occB")
    assert(filesA.nonEmpty && filesB.nonEmpty)

    // a stale CAS from an old snapshot must fail, not clobber: writer A
    // already advanced 2 → 3, so B's publish of 3 conflicts
    val v3 = Scratch.casCommit(EtlQueries.manifestLog(out), 2,
      (EtlQueries.readManifest(s"$out/manifests/2") ++ filesA).mkString("\n"))
    assert(v3 == 3)
    intercept[Scratch.CommitConflictException] {
      Scratch.casCommit(EtlQueries.manifestLog(out), 2,
        (EtlQueries.readManifest(s"$out/manifests/2") ++ filesB).mkString("\n"))
    }
    // manifest 3 is exactly A's commit — B's failed CAS left no trace
    assert(EtlQueries.readManifest(s"$out/manifests/3").toSet ==
      (EtlQueries.readManifest(s"$out/manifests/2") ++ filesA).toSet)

    // the retry loop: B prepares from v2, loses the race to a writer that
    // commits mid-flight, rebases onto the winner's snapshot, commits v+1
    val occOut = EtlQueries.versionedLakePath(sf) + "_occ2"
    clean(occOut)
    EtlQueries.commitVersions(spark, sf, occOut)
    var interleaved = false
    val prepared = scala.collection.mutable.ArrayBuffer.empty[Int]
    val vB = Scratch.commitWithRetry(EtlQueries.manifestLog(occOut)) { base =>
      prepared += base
      val mine = EtlQueries.readManifest(s"$occOut/manifests/$base") ++ filesB
      if (!interleaved) { // writer A sneaks in between B's prepare and CAS
        interleaved = true
        Scratch.casCommit(EtlQueries.manifestLog(occOut), base,
          (EtlQueries.readManifest(s"$occOut/manifests/$base") ++ filesA).mkString("\n"))
      }
      mine.mkString("\n")
    }
    assert(prepared.toSeq == Seq(2, 3), s"expected a rebase, prepared from $prepared")
    assert(vB == 4)
    val m4 = EtlQueries.readManifest(s"$occOut/manifests/4").toSet
    assert(filesA.toSet.subsetOf(m4) && filesB.toSet.subsetOf(m4),
      "the final snapshot must contain BOTH writers' updates")
    // and the committed snapshot is readable with both appends present
    val v4 = EtlQueries.readVersion(spark, occOut, 4)
    assert(v4.filter($"o_orderkey" >= 900000001L).count() == 3)
  }

  test("optimistic concurrency under real contention: 8 threads all commit, none lost") {
    import scala.concurrent._
    import scala.concurrent.duration._
    val out = EtlQueries.versionedLakePath(sf) + "_occ_mt"
    val d = new java.io.File(out)
    if (d.exists()) {
      java.nio.file.Files.walk(d.toPath)
        .sorted(java.util.Comparator.reverseOrder()).forEach(p => p.toFile.delete())
    }
    // 8 writers race from an empty table; each append is one fake file
    // path (the CAS contends on the manifest, not the data). Every writer
    // must eventually land on its own version with every predecessor's
    // delta carried forward.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 8).map { i =>
        Future {
          Scratch.commitWithRetry(EtlQueries.manifestLog(out), maxAttempts = 100) { base =>
            val prev = if (base == 0) Seq.empty
              else EtlQueries.readManifest(s"$out/manifests/$base")
            (prev :+ s"/delta/file_$i").mkString("\n")
          }
        }
      }
      val versions = Await.result(Future.sequence(futures), 60.seconds)
      assert(versions.sorted == (1 to 8), s"got versions $versions")
      val last = EtlQueries.readManifest(s"$out/manifests/8")
      assert((1 to 8).forall(i => last.contains(s"/delta/file_$i")),
        s"lost an update: $last")
      assert(last.size == 8)
    } finally pool.shutdown()
  }

  test("vacuum deletes only files below the retention horizon; kept versions stay readable") {
    val out = EtlQueries.versionedLakePath(sf) + "_vac"
    EtlQueries.commitVersions(spark, sf, out)
    // a writer killed inside a version commit leaves its temp file behind;
    // vacuum must not take it for a version
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/manifests/.commit3-killed.tmp"), "")
    val v2Before = EtlQueries.readVersion(spark, out, 2).count()
    val dead = EtlQueries.vacuum(out, keepFrom = 2)
    // exactly v1's exclusive files die: the touched slice superseded by v2
    assert(dead.nonEmpty && dead.forall(_.contains("/data/v1t/")), dead.take(3).toString)
    assert(dead.forall(f => !new java.io.File(f).exists()))
    // v2 untouched and still readable; v1 is gone past the horizon
    assert(EtlQueries.readVersion(spark, out, 2).count() == v2Before)
    intercept[Exception] {
      EtlQueries.readVersion(spark, out, 1).count()
    }
  }

  test("q136 z-order layout: per-file min/max are tight on BOTH filter dimensions") {
    import org.apache.spark.sql.functions.{floor => _, _}
    import spark.implicits._
    assert(EtlQueries.q136ZorderWrite(spark, sf).collect().nonEmpty)
    val out = Scratch.path(s"zorder_${Scratch.tag(sf)}")
    val days = datediff($"o_orderdate", lit("1995-01-01")).cast("long")
    val stats = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(
        (max($"o_custkey") - min($"o_custkey")).as("cw"),
        (max(days) - min(days)).as("dw"))
      .collect()
    assert(stats.length == 8, s"want 8 z-range files, got ${stats.length}")
    val bounds = Tables.orders(spark, sf)
      .agg(max($"o_custkey").cast("double"), max(days).cast("double")).collect()(0)
    val cAvg = stats.map(_.getAs[Long]("cw")).sum.toDouble / stats.length
    val dAvg = stats.map(_.getAs[Long]("dw")).sum.toDouble / stats.length
    // a 1-D sort leaves the OTHER dimension at ~full width per file; the
    // interleave must constrain both — the whole point of the layout
    assert(cAvg <= 0.7 * bounds.getDouble(0), s"custkey width $cAvg vs ${bounds.getDouble(0)}")
    assert(dAvg <= 0.7 * bounds.getDouble(1), s"date width $dAvg vs ${bounds.getDouble(1)}")
  }
}
