package graft.sources

import java.io.{BufferedOutputStream, DataOutputStream, File, FileOutputStream, RandomAccessFile}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Scratch, Tables}
import graft.lake.Log
import graft.expressions.KernelOps

/** GFWB — a minimal fixed-width binary record format, defined here so the
  * engine has a REAL custom-source surface to connect to (SURVEY §2.1's
  * source tier beyond the built-ins): the [[FwbDataSource]] DataSource V2
  * connector reads it with column pruning and key-range file skipping.
  *
  * Layout per file (parquet-style footer so the WRITER streams — records
  * first, metadata after, never buffered):
  * {{{
  *   record*          n × 25 bytes: orderkey i64 | custkey i64 | cents i64 | prio u8
  *   footer           count i64, minKey i64, maxKey i64,
  *                    dictN i32, dictN × (len i32, utf8 bytes),
  *                    bloomBytes i32, custkey bloom bytes
  *   tail             footerLen i32, magic i32          (last 8 bytes)
  * }}}
  * All integers big-endian (DataOutput). Prices are stored as EXACT integer
  * cents — the schema exposes `o_cents BIGINT` rather than reconstructing a
  * double, so every downstream aggregate is integer-exact cross-engine.
  * The priority string is dictionary-coded to one byte per record; the
  * bounded domain (5 values) travels in each file's footer, so readers
  * need no side channel.
  *
  * Each file's footer carries a fixed-size ([[BloomBytes]]) BLOOM FILTER
  * over `o_custkey` ([[graft.expressions.KernelOps.bloomInsert]]):
  * file skipping for point predicates the clustered-key min/max can't
  * serve. Each commit is a version of the directory's table log
  * ([[graft.lake.Log]], `_log/<N>.json`) and refreshes `_manifest.json`,
  * the stats cache (file → footer stats) scan PLANNING reads instead of
  * every file's footer; a file the cache lacks (a concurrent writer's)
  * degrades to a footer read, never to a wrong plan.
  */
object FwbFormat {

  val Magic = 0x47465742 // "GFWB"
  val RecordBytes = 25
  val ManifestName = "_manifest.json"

  /** The footer bloom's size: 256 Kibit, ~17 bits/key at 15k distinct
    * keys/file, fixed so the writer streams with no NDV pre-pass. At the
    * fixture scales the filter runs far under capacity (fp < 1e-4); a file
    * whose key count saturates it degrades to "never skipped" — a cost,
    * never a correctness risk, exactly how parquet's column blooms behave
    * when under-sized. Committed footers hold blooms of this size.
    */
  val BloomBytes = 32768

  /** Observability hook for the planning-cost contract: every footer read
    * increments this, so FwbSourceSpec can assert that manifest-backed
    * planning opens ZERO data files (and that the fallback path still
    * works when the manifest is absent).
    */
  val footerReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** One file's planning stats — exactly what the footer stores past the
    * record payload, and what the manifest caches per file.
    */
  final case class FwbStats(n: Long, minKey: Long, maxKey: Long,
      dict: Array[String], custBloom: Array[Byte])

  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_cents", LongType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false)))

  val FixtureFiles = 4

  def fixturePath(dir: String): String =
    Scratch.path(s"fwb_${Scratch.tag(dir)}_pid${ProcessHandle.current.pid}")

  /** Write the orders table as [[FixtureFiles]] range-partitioned GFWB
    * files (disjoint, sorted key ranges per file — the layout that makes
    * footer min/max skipping effective, q97's range-clustering discipline
    * applied to a foreign format) through the connector's own batch
    * writer ([[FwbWrite]]), which commits them as version 1 of the
    * directory's log. Published once per (process, sf dir) through
    * [[Scratch.publishOnce]].
    */
  def writeFixture(s: SparkSession, dir: String): String =
    Scratch.publishOnce(fixturePath(dir)) { out =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("o_cents"),
          col("o_orderpriority"))
        .repartitionByRange(FixtureFiles, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.format("graft-fwb").mode("overwrite").save(out)
    }

  /** Write one GFWB file from `it` with the dictionary `dict`; returns
    * None (writing nothing) for an empty iterator, the file's stats
    * otherwise.
    */
  private[graft] def writeFile(path: String, it: Iterator[Row],
      dict: Array[String], codeOf: Map[String, Int]): Option[FwbStats] = {
    if (!it.hasNext) return None
    val o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    val stats = try {
      var n = 0L
      var minKey = Long.MaxValue
      var maxKey = Long.MinValue
      val bloom = new Array[Byte](BloomBytes)
      it.foreach { r =>
        val k = r.getLong(0)
        o.writeLong(k); o.writeLong(r.getLong(1)); o.writeLong(r.getLong(2))
        o.writeByte(codeOf(r.getString(3)))
        KernelOps.bloomInsert(bloom, r.getLong(1))
        n += 1; if (k < minKey) minKey = k; if (k > maxKey) maxKey = k
      }
      val st = FwbStats(n, minKey, maxKey, dict, bloom)
      writeFooter(o, st)
      st
    } finally o.close()
    Some(stats)
  }

  /** The ONE footer serializer — shared by [[writeFile]] and the V2
    * sink's task writer ([[FwbWrite]]), so the footerLen
    * accounting and [[readFooter]]'s seek arithmetic can never drift
    * between the two write paths.
    */
  private[graft] def writeFooter(o: DataOutputStream, st: FwbStats): Unit = {
    var footerLen = 8 + 8 + 8 + 4
    o.writeLong(st.n); o.writeLong(st.minKey); o.writeLong(st.maxKey)
    o.writeInt(st.dict.length)
    st.dict.foreach { w =>
      val b = w.getBytes("UTF-8")
      o.writeInt(b.length); o.write(b)
      footerLen += 4 + b.length
    }
    o.writeInt(st.custBloom.length); o.write(st.custBloom)
    footerLen += 4 + st.custBloom.length
    o.writeInt(footerLen); o.writeInt(Magic)
  }

  /** Per-file footer as planning metadata. Counted by [[footerReads]] —
    * manifest-backed planning must never get here.
    *
    * The footer is checked against the file before any record is read, in
    * O(1): `footerLen` lies within the file, `n × RecordBytes + footerLen
    * + 8` equals the file length, every dictionary entry lies within the
    * footer, and the bloom is [[BloomBytes]] long. A violation throws
    * an IOException naming the path and the field — a wrong count would
    * otherwise decode footer bytes as records, or drop records, silently.
    */
  def readFooter(path: String): FwbStats = {
    footerReads.incrementAndGet()
    val f = new RandomAccessFile(path, "r")
    try {
      val len = f.length
      def corrupt(field: String, got: Long, want: String): Nothing =
        throw new java.io.IOException(s"$path: corrupt GFWB footer: $field is $got, want $want")
      f.seek(len - 8)
      val footerLen = f.readInt()
      require(f.readInt() == Magic, s"$path: bad GFWB magic")
      val footerStart = len - 8 - footerLen
      val minFooter = 8 + 8 + 8 + 4 + 4 // count, keys, dictN, bloomLen
      if (footerLen < minFooter || footerStart < 0)
        corrupt("footerLen", footerLen, s"$minFooter to ${len - 8} (file length $len)")
      f.seek(footerStart)
      val n = f.readLong(); val minKey = f.readLong(); val maxKey = f.readLong()
      if (footerStart % RecordBytes != 0 || n != footerStart / RecordBytes)
        corrupt("record count", n, s"${footerStart / RecordBytes} (file length $len, footerLen $footerLen)")
      def remaining: Long = len - 8 - f.getFilePointer
      val dictN = f.readInt()
      if (dictN < 0 || dictN > 256) corrupt("dictionary size", dictN, "0 to 256")
      val dict = Array.tabulate(dictN) { i =>
        val w = f.readInt()
        if (w < 0 || w > remaining) corrupt(s"dictionary entry $i length", w, s"0 to $remaining")
        val b = new Array[Byte](w); f.readFully(b); new String(b, "UTF-8")
      }
      val bloomLen = f.readInt()
      if (bloomLen != BloomBytes) corrupt("bloom length", bloomLen, BloomBytes.toString)
      if (remaining != bloomLen)
        corrupt("footerLen", footerLen, s"${footerLen - remaining + bloomLen} (the footer's own fields)")
      val bloom = new Array[Byte](bloomLen); f.readFully(bloom)
      FwbStats(n, minKey, maxKey, dict, bloom)
    } finally f.close()
  }

  // ---- version log and stats manifest --------------------------------

  /** Commit `added` (file name → footer stats, which the writer already
    * holds, so committing reads ZERO data files) as the next version of
    * the directory's table log ([[graft.lake.Log]]): the current file set
    * plus `added` (only `added` after a truncate), rebuilt on every retry,
    * so a concurrent append never drops another writer's files. Since
    * committed files are immutable and appends never remove them,
    * `versionAsOf` reads reconstruct any past version exactly, until a
    * truncate deletes its files (then the read fails loudly). Log entries
    * drop the bloom bytes (~32 KB per file per version would make the log
    * O(files²) across appends); a versioned custkey probe keeps every file.
    *
    * Then `dir/_manifest.json`, the stats cache current-state planning
    * reads (blooms included), is replaced by temp + rename, so a planner
    * sees one generation or the next, never a torn file. Two racing
    * commits may drop each other's entries from it; those files plan from
    * footer reads, never from a wrong plan.
    */
  private[graft] def writeManifest(dir: String, added: Map[String, FwbStats],
      truncate: Boolean): Unit = {
    val entries = added.toSeq.sortBy(_._1).map { case (name, st) =>
      val f = new File(dir, name)
      Log.FileEntry(name, f.length, f.lastModified, stats = statsJson(st.copy(custBloom = Array.empty)))
    }
    Log.commit(dir) { cur =>
      val prior = if (truncate) Nil else cur.files.filterNot(e => added.contains(e.path))
      Log.Snapshot(schema, Nil, prior ++ entries)
    }
    val cache = if (truncate) added else readManifest(dir) ++ added
    val fin = new File(dir, ManifestName)
    // attempt-unique tmp (pid + thread + nanos): same-process concurrent
    // commits must never share a staging file (review r12)
    val tmp = new File(dir,
      s".$ManifestName.tmp${ProcessHandle.current.pid}" +
        s"-${Thread.currentThread().getId}-${System.nanoTime()}")
    java.nio.file.Files.writeString(tmp.toPath, org.json4s.jackson.JsonMethods.compact(
      org.json4s.JObject(cache.toSeq.sortBy(_._1).map { case (n, st) => n -> statsJson(st) }.toList)))
    try java.nio.file.Files.move(tmp.toPath, fin.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch { case e: Throwable => tmp.delete(); throw e }
  }

  private def statsJson(st: FwbStats): org.json4s.JObject = {
    import org.json4s.JsonDSL._
    ("n" -> st.n) ~ ("min" -> st.minKey) ~ ("max" -> st.maxKey) ~
      ("dict" -> st.dict.toSeq) ~
      ("bloom" -> java.util.Base64.getEncoder.encodeToString(st.custBloom))
  }

  /** The manifest as a name-keyed stats cache; empty when absent (the
    * planner then falls back to per-file footer reads).
    */
  private[graft] def readManifest(dir: String): Map[String, FwbStats] = {
    val f = new File(dir, ManifestName)
    if (!f.exists()) Map.empty
    else org.json4s.jackson.JsonMethods.parse(java.nio.file.Files.readString(f.toPath)) match {
      case org.json4s.JObject(fields) => fields.map { case (name, v) => checked(f.getPath, name, v) }.toMap
      case _ => throw new java.io.IOException(s"$f: corrupt GFWB manifest: not an object")
    }
  }

  /** The files a scan plans over, with their stats: version `v`'s logged
    * set, whose files must all still exist (a truncate ended the older
    * versions, and a read across it fails loudly, never serving the new
    * generation), else the directory's current `*.gfwb` files with their
    * manifest stats, or footer stats for a file the manifest lacks (a
    * concurrent appender between manifest generations).
    */
  private[graft] def planFiles(dir: String, versionAsOf: Option[Int]): Seq[(String, FwbStats)] =
    versionAsOf match {
      case Some(v) =>
        val where = Log.versionLog(dir).file(v).getPath
        Log.snapshot(dir, v).files.map(e => checked(where, e.path, e.stats)).sortBy(_._1).map {
          case (n, st) =>
            require(new File(dir, n).exists(), s"graft-fwb: versionAsOf $v references $dir/$n, " +
              "which no longer exists (a truncate ended this version's reconstructability)")
            s"$dir/$n" -> st
        }
      case None =>
        val manifest = readManifest(dir)
        Option(new File(dir).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".gfwb")).sortBy(_.getName).toSeq
          .map(f => f.getPath -> manifest.getOrElse(f.getName, readFooter(f.getPath)))
    }

  /** One manifest or log entry, checked before planning trusts it: a
    * plain `*.gfwb` name (no `/`, no `..` — a name is opened under the
    * table directory), n ≥ 0, min ≤ max when n > 0, at most 256 dictionary
    * entries, a bloom of 0 or [[BloomBytes]] bytes. A violation throws an
    * IOException naming the manifest and the field.
    */
  private def checked(where: String, name: String, v: org.json4s.JValue): (String, FwbStats) = {
    import org.json4s._
    def corrupt(field: String, got: Any): Nothing =
      throw new java.io.IOException(s"$where: corrupt GFWB manifest entry '$name': $field is $got")
    if (!name.endsWith(".gfwb") || name.contains('/') || name.contains("..")) corrupt("file name", name)
    val o = v match { case JObject(fs) => fs.toMap; case other => corrupt("entry", other) }
    def num(k: String): Long = o.get(k) match {
      case Some(JInt(x)) if x.isValidLong => x.toLong
      case Some(JLong(x)) => x
      case other => corrupt(k, other)
    }
    val (n, lo, hi) = (num("n"), num("min"), num("max"))
    if (n < 0) corrupt("n", n)
    if (n > 0 && lo > hi) corrupt("min", s"$lo > max $hi")
    val dict = o.get("dict") match {
      case Some(JArray(ws)) if ws.size <= 256 => ws.map {
        case JString(w) => w
        case other => corrupt("dict entry", other)
      }.toArray
      case other => corrupt("dict", other.map { case JArray(ws) => s"${ws.size} entries"; case j => j })
    }
    val bloom = o.get("bloom") match {
      case Some(JString(b)) => java.util.Base64.getDecoder.decode(b)
      case None => Array.emptyByteArray
      case other => corrupt("bloom", other)
    }
    if (bloom.length != 0 && bloom.length != BloomBytes) corrupt("bloom length", bloom.length)
    name -> FwbStats(n, lo, hi, dict, bloom)
  }
}
