package graft

import org.apache.spark.sql.functions.{lit, month, round, year}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.etl.EtlQueries
import graft.lake.Log

/** One CDC row in the orders-lake schema (for the MemoryStream source). */
case class CdcRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: java.time.LocalDateTime,
    o_orderpriority: String, o_year: Int, o_month: Int)

/** The lake tables commit through [[graft.lake.Log]]. The oracle pins the
  * merged values; this spec pins what the log promises: an upsert or
  * delete writes only the partitions it touches, the next version
  * references every other file unchanged, older versions stay readable
  * until vacuumed, a writer that dies before its commit changes nothing a
  * reader sees, and concurrent writers lose no update.
  */
class UpsertSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** A fresh table path: nothing left from an earlier run. */
  private def fresh(path: String): String = {
    Scratch.deleteRecursively(new java.io.File(path))
    path
  }

  private def inWindow(e: Log.FileEntry): Boolean =
    e.partition("o_year") == "1997" && e.partition("o_month").toInt <= 2

  test("q132 upsert rewrites only the touched partitions; untouched files are byte-identical") {
    import spark.implicits._
    val out = fresh(EtlQueries.upsertLakePath(sf) + "_spec")
    val v1 = EtlQueries.writeUpsertBase(spark, sf, out)
    val v2 = EtlQueries.applyUpsert(spark, out, EtlQueries.upsertCdc(spark, sf),
      EtlQueries.upsertWindow)
    assert((v1, v2) == ((1, 2)))
    val (before, after) = (Log.snapshot(out, v1), Log.snapshot(out, v2))
    // the next version references every untouched file unchanged: same
    // path, length and mtime, so the same bytes
    assert(before.files.filterNot(inWindow).toSet == after.files.filterNot(inWindow).toSet,
      "untouched partition files must be referenced unchanged by the next version")
    // the touched partitions are new files, and the old ones still exist
    // for v1's readers
    val (oldT, newT) = (before.files.filter(inWindow), after.files.filter(inWindow))
    assert(oldT.nonEmpty && newT.nonEmpty)
    assert(oldT.map(_.path).toSet.intersect(newT.map(_.path).toSet).isEmpty,
      "touched partitions must be written as new files")
    assert(oldT.forall(e => new java.io.File(out, e.path).exists()))

    // merged content: every update key flipped to U, inserts present,
    // row count = base + inserts (updates replace, never duplicate)
    val cur = Log.read(spark, out, after).cache()
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
    // snapshot isolation: v1 is still the base
    assert(Log.read(spark, out, before).filter($"o_orderstatus".isin("U", "I")).count() == 0)
  }

  test("q154 delete rewrites only the 1996 partitions; untouched files byte-identical; rows gone") {
    import spark.implicits._
    val out = fresh(EtlQueries.deleteLakePath(sf) + "_spec")
    val v1 = EtlQueries.writeUpsertBase(spark, sf, out)
    val before = Log.snapshot(out, v1)
    val baseN = Log.read(spark, out, before).count()
    val expDeleted = Tables.orders(spark, sf)
      .filter(year($"o_orderdate") === 1996 && $"o_custkey" % 10 === 3).count()
    assert(expDeleted > 0, "fixture must delete something")

    val after = Log.snapshot(out,
      EtlQueries.applyDelete(spark, out, $"o_year" === 1996, $"o_custkey" % 10 === 3))
    def touched(e: Log.FileEntry) = e.partition("o_year") == "1996"
    assert(before.files.filterNot(touched).toSet == after.files.filterNot(touched).toSet,
      "untouched partition files must be referenced unchanged by the next version")
    assert(before.files.exists(touched) && after.files.exists(touched))
    assert(before.files.filter(touched).toSet.intersect(after.files.filter(touched).toSet).isEmpty)

    val cur = Log.read(spark, out, after)
    assert(cur.filter($"o_year" === 1996 && $"o_custkey" % 10 === 3).count() == 0)
    assert(cur.count() == baseN - expDeleted)
  }

  test("delete of a whole partition: it is absent from the next version and still read at the previous one") {
    import spark.implicits._
    val out = fresh(EtlQueries.deleteLakePath(sf) + "_whole")
    val v = EtlQueries.writeUpsertBase(spark, sf, out)
    val march = $"o_year" === 1996 && $"o_month" === 3
    val n = Log.read(spark, out, Log.snapshot(out, v)).filter(march).count()
    assert(n > 0)
    val next = Log.snapshot(out, EtlQueries.applyDelete(spark, out, march, lit(true)))
    assert(next.version == v + 1)
    assert(!next.files.exists(e => e.partition("o_year") == "1996" && e.partition("o_month") == "3"),
      "an emptied partition must have no files in the new version")
    assert(Log.read(spark, out, next).filter(march).count() == 0)
    assert(Log.read(spark, out, next).count() ==
      Log.read(spark, out, Log.snapshot(out, v)).count() - n)
    assert(Log.read(spark, out, Log.snapshot(out, v)).filter(march).count() == n)
  }

  test("q135 versioned lake: copy-on-write reuse, and v1 stays intact after the v2 commit") {
    import spark.implicits._
    val out = EtlQueries.versionedLakePath(sf)
    EtlQueries.commitVersions(spark, sf, out)
    assert(Log.versions(out) == Seq(1, 2))
    val m1 = Log.snapshot(out, 1).files.toSet
    val m2 = Log.snapshot(out, 2).files.toSet
    // copy-on-write: untouched data files are shared BY REFERENCE between
    // versions; each version additionally owns its touched slice
    val shared = m1.intersect(m2)
    assert(shared.nonEmpty && shared.forall(!inWindow(_)))
    assert((m1 -- m2).nonEmpty && (m1 -- m2).forall(inWindow))
    assert((m2 -- m1).nonEmpty && (m2 -- m1).forall(inWindow))
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

  test("a writer that throws between its data write and its commit changes no version, and its files are never read") {
    import spark.implicits._
    val out = fresh(EtlQueries.upsertLakePath(sf) + "_killed")
    val v = EtlQueries.writeUpsertBase(spark, sf, out)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select($"o_orderkey", $"o_orderstatus", $"o_totalprice").collect().map(_.toString).sorted.toSeq
    val before = rows(Log.read(spark, out, Log.snapshot(out)))
    var orphans = Seq.empty[Log.FileEntry]
    val e = intercept[IllegalStateException] {
      Log.commit(out) { cur =>
        orphans = Log.write(EtlQueries.upsertCdc(spark, sf), out, EtlQueries.LakePartitions)
        throw new IllegalStateException("writer killed before its commit")
      }
    }
    assert(e.getMessage.contains("killed"))
    assert(orphans.nonEmpty && orphans.forall(o => new java.io.File(out, o.path).exists()),
      "the killed writer's data files are on disk")
    assert(Log.current(out) == v, "no version was committed")
    val cur = Log.read(spark, out, Log.snapshot(out))
    val orphanPaths = orphans.map(o => new java.io.File(out, o.path).toURI.getPath).toSet
    assert(!cur.inputFiles.exists(f => orphanPaths(new java.net.URI(f).getPath)),
      "a reader must never see uncommitted files")
    assert(rows(cur) == before)
  }

  test("building a version's DataFrame over the 80-file upsert lake starts no Spark job") {
    import spark.implicits._
    val out = fresh(EtlQueries.upsertLakePath(sf) + "_jobs")
    EtlQueries.writeUpsertBase(spark, sf, out)
    val snap = Log.snapshot(out)
    // more than Spark's 32-path threshold, past which listing runs a job
    assert(snap.files.size > 32, s"${snap.files.size} files")
    val jobs = SparkTestSession.jobsStartedBy {
      Log.read(spark, out, Log.snapshot(out)).filter($"o_year" === 1997)
      Log.filesWhere(spark, snap, EtlQueries.upsertWindow)
    }
    assert(jobs == 0, s"$jobs jobs")
    assert(Log.filesWhere(spark, snap, EtlQueries.upsertWindow).map(_.partition).toSet ==
      Set(Map("o_year" -> "1997", "o_month" -> "1"), Map("o_year" -> "1997", "o_month" -> "2")))
  }

  test("20 q132 executions leave as many data and log files as 2 do") {
    val out = fresh(EtlQueries.upsertLakePath(sf))
    def files(sub: String): Int = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(out, sub))
      try walk.iterator().asScala.count(java.nio.file.Files.isRegularFile(_)) finally walk.close()
    }
    val first = (1 to 2).map(_ => EtlQueries.q132PartitionUpsert(spark, sf).collect().toSeq).last
    val after2 = (files("data"), files("_log"))
    val last = (3 to 20).map(_ => EtlQueries.q132PartitionUpsert(spark, sf).collect().toSeq).last
    assert(Log.current(out) == 21 && Log.versions(out) == Seq(21))
    assert((files("data"), files("_log")) == after2, s"after 2: $after2")
    assert(after2._2 == 1)
    assert(last == first, "re-applying the batch must converge to the same state")
  }

  test("streaming CDC sink: two micro-batches of foreachBatch upserts == one batch merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // reference: the one-shot batch merge
    val ref = fresh(EtlQueries.upsertLakePath(sf) + "_ref")
    EtlQueries.writeUpsertBase(spark, sf, ref)
    EtlQueries.applyUpsert(spark, ref, EtlQueries.upsertCdc(spark, sf), EtlQueries.upsertWindow)
    // streamed: the same CDC rows split across two micro-batches with
    // OVERLAPPING partitions (batch 2 must preserve batch 1's changes)
    val streamed = fresh(EtlQueries.upsertLakePath(sf) + "_stream")
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
      Log.read(spark, p, Log.snapshot(p))
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
    val path = fresh(EtlQueries.upsertLakePath(sf) + "_replay")
    EtlQueries.writeUpsertBase(spark, sf, path)
    val cdc = EtlQueries.upsertCdc(spark, sf).as[CdcRow].collect().toSeq
    def deliver(): Unit = {
      val source = MemoryStream[CdcRow](
        implicitly[org.apache.spark.sql.Encoder[CdcRow]], spark.sqlContext)
      val q = graft.streaming.StreamingOps.cdcUpsertSink(source.toDF(), path).start()
      try { source.addData(cdc); q.processAllAvailable() } finally q.stop()
    }
    def state(): Seq[String] =
      Log.read(spark, path, Log.snapshot(path))
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
    val out = EtlQueries.versionedLakePath(sf) + "_occ"
    EtlQueries.commitVersions(spark, sf, out) // v1 (base) + v2 (merged) exist
    assert(Log.current(out) == 2)
    // two writers' APPENDS: immutable data files written up front — only
    // the version publish is contended
    val filesA = Log.write(Seq((900000001L, "A", 1999, 1))
      .toDF("o_orderkey", "o_orderstatus", "o_year", "o_month"), out, EtlQueries.LakePartitions)
    val filesB = Log.write(Seq((900000002L, "B", 1999, 1), (900000003L, "B", 1999, 1))
      .toDF("o_orderkey", "o_orderstatus", "o_year", "o_month"), out, EtlQueries.LakePartitions)
    assert(filesA.nonEmpty && filesB.nonEmpty)
    // B prepares from v2 and loses the race to A, which commits between
    // B's prepare and its publish; B rebases onto A's version
    var interleaved = false
    val prepared = scala.collection.mutable.ArrayBuffer.empty[Int]
    val vB = Log.commit(out) { cur =>
      prepared += cur.version
      if (!interleaved) {
        interleaved = true
        assert(Log.commit(out)(a => a.copy(files = a.files ++ filesA)) == 3)
      }
      cur.copy(files = cur.files ++ filesB)
    }
    assert(prepared.toSeq == Seq(2, 3), s"expected a rebase, prepared from $prepared")
    assert(vB == 4)
    // version 3 is exactly A's commit — B's lost attempt left no trace
    assert(Log.snapshot(out, 3).files == Log.snapshot(out, 2).files ++ filesA)
    val v4 = Log.snapshot(out, 4).files.toSet
    assert(filesA.toSet.subsetOf(v4) && filesB.toSet.subsetOf(v4),
      "the final version must contain BOTH writers' updates")
    // and the committed version is readable with both appends present
    assert(EtlQueries.readVersion(spark, out, 4).filter($"o_orderkey" >= 900000001L).count() == 3)
  }

  test("optimistic concurrency under real contention: 8 threads all commit, none lost") {
    import scala.concurrent._
    import scala.concurrent.duration._
    val out = fresh(EtlQueries.versionedLakePath(sf) + "_occ_mt")
    // 8 writers race from an empty table; each append is one fake file
    // entry (the CAS contends on the version file, not the data). Every
    // writer must eventually land on its own version with every
    // predecessor's entry carried forward.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 8).map { i =>
        Future {
          Log.commit(out)(cur => cur.copy(files = cur.files :+ Log.FileEntry(s"delta/file_$i", i, 0L)))
        }
      }
      val versions = Await.result(Future.sequence(futures), 60.seconds)
      assert(versions.sorted == (1 to 8), s"got versions $versions")
      val last = Log.snapshot(out, 8).files.map(_.path)
      assert((1 to 8).forall(i => last.contains(s"delta/file_$i")), s"lost an update: $last")
      assert(last.size == 8)
    } finally pool.shutdown()
  }

  test("vacuum deletes only files below the retention horizon; kept versions stay readable") {
    val out = EtlQueries.versionedLakePath(sf) + "_vac"
    EtlQueries.commitVersions(spark, sf, out)
    // a writer killed inside a version commit leaves its temp file behind;
    // vacuum must not take it for a version
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/_log/.commit3-killed.tmp"), "")
    val v1Only = Log.snapshot(out, 1).files.toSet -- Log.snapshot(out, 2).files
    val v2Before = EtlQueries.readVersion(spark, out, 2).count()
    val dead = Log.vacuum(out, keepFrom = 2)
    // exactly v1's exclusive files die: the touched slice superseded by v2
    assert(dead.nonEmpty && dead.toSet == v1Only.map(e => new java.io.File(out, e.path).getAbsolutePath))
    assert(dead.forall(f => !new java.io.File(f).exists()))
    // v2 untouched and still readable; v1 is gone past the horizon
    assert(Log.versions(out) == Seq(2))
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
