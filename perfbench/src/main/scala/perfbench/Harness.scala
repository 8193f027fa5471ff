package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkEntry}
import graft.etl.{SparkifyEtl, SparkifyQueries}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: String, value: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), mapper.writeValueAsString(value))
  def str(value: Any): String = mapper.writeValueAsString(value)
}

/** Host evidence taken before and after each run: fixed single-thread work
  * and fixed scratch I/O, timed. Informational, never a metric.
  */
object Host {
  def cpuProbeS(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31 + 7).toByte)
    def pass(n: Int): Double = {
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => md.update(buf))
      md.digest()
      (System.nanoTime() - t0) / 1e9
    }
    pass(16)
    math.min(pass(64), pass(64))
  }

  def ioProbeS(dir: String): Double = {
    val f = new java.io.File(dir, "_ioprobe")
    f.getParentFile.mkdirs()
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 13 + 11).toByte)
    val t0 = System.nanoTime()
    try {
      val out = new java.io.FileOutputStream(f)
      try { (1 to 64).foreach(_ => out.write(buf)); out.getFD.sync() } finally out.close()
      val in = new java.io.FileInputStream(f)
      try { var n = 0; while (n != -1) n = in.read(buf) } finally in.close()
      (System.nanoTime() - t0) / 1e9
    } finally f.delete()
  }

  /** The JVM's peak resident set (VmHWM), in MiB. Informational: it
    * follows the collector's heap sizing more than the program's memory.
    */
  def peakRssMb(): Double = {
    val status = new java.io.File("/proc/self/status")
    val hwm = if (!status.exists()) None else {
      val src = scala.io.Source.fromFile(status)
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      finally src.close()
    }
    hwm.getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)
  }

  /** Memory the program holds on to, in MiB: the heap still in use after a
    * full collection, plus non-heap memory in use (metaspace, code cache).
    * Blocks left cached by an operation count here; garbage does not. The
    * second collection frees what Spark's context cleaner released after
    * the first one saw the references to it go (broadcasts, shuffles).
    */
  def liveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    Thread.sleep(500)
    System.gc()
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }
}

/** One benchmark run inside one JVM: set up, measure for the given seconds
  * with one closed-loop client, check outputs, and write the raw record that
  * run.py turns into metrics.
  *
  * Usage: perfbench.Harness --workload W --seconds S --trace 0|1 --input DIR
  *   --work DIR --out FILE [--queries q1,q2,...] [--user ID] [--run-id ID]
  */
object Harness {
  private val modules = Map(
    "relational" -> Set("q157"),
    "text" -> Set("q69"),
    "vector" -> Set("q199"),
    "lake" -> Set("q132", "q211"))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val hostPre = Map("cpu_probe_s" -> Host.cpuProbeS(), "io_probe_s" -> Host.ioProbeS(work))
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[perfbench] session ready after ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val rec = if (traced) Some(new Recorder(spark, opt.getOrElse("run-id", "run"))) else None
    val run = new Run(spark, opt, seconds, rec, t0)
    val result = mutable.LinkedHashMap[String, Any]("workload" -> workload, "nproc" -> cpus)
    try {
      result ++= (workload match {
        case "sparkify_etl" => run.etl()
        case "registry_loops" => run.passes()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      })
      rec.foreach(_.dump(s"$work/trace.json"))
      result("peak_rss_mb") = Host.peakRssMb()
      result("live_mb") = run.liveMb
      result("host") = Map("pre" -> hostPre,
        "post" -> Map("cpu_probe_s" -> Host.cpuProbeS(), "io_probe_s" -> Host.ioProbeS(work)))
      Json.write(opt("out"), result)
    } finally spark.stop()
  }

  /** The registry module `query` belongs to, by its numeric prefix. */
  def moduleOf(query: String): Option[String] =
    modules.collectFirst { case (m, qs) if qs.contains(query.takeWhile(_ != '_')) => m }

  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

final class Run(spark: SparkSession, opt: Map[String, String], seconds: Double,
    rec: Option[Recorder], t0: Long) {
  import Harness.median

  private val work = opt("work")
  private val input = opt("input")
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val layerSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var setupS = 0.0

  private def ms(from: Long): Double = (System.nanoTime() - from) / 1e6

  private def endSetup(): Unit = {
    setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] setup done after $setupS%.2f s")
  }

  private def sample(name: String, v: Double): Unit =
    layerSamples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private var tracing = false
  private var liveAfterThird = 0.0

  /** Memory held after the third timed op (see [[Host.liveMb]]), which
    * every run makes. A fixed op rather than the last one: non-heap memory
    * grows a little with each op, and a faster program fits more ops into
    * the window. Not an earlier one: the full collections slow the op that
    * follows them.
    */
  def liveMb: Double = liveAfterThird

  /** A span inside a traced op, a plain call otherwise. */
  private def span[T](name: String)(body: => T): T = rec.filter(_ => tracing) match {
    case Some(r) => r.span(name)(body)
    case None => body
  }

  /** Closed loop: ops back to back for `seconds`, one client. An op starts
    * only while it is expected (from the last op's time) to end inside the
    * window, but at least three run. A traced run alternates untraced and
    * traced ops in the order U T T U (at least four ops), so the run also
    * measures its own tracing overhead without the warm-up trend of
    * successive ops leaning on either side.
    */
  private def loop(op: (Int, Boolean) => Unit): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var last = 0L
    var i = 0
    val least = if (rec.isDefined) 4 else 3
    while (i < least || System.nanoTime() + last <= end) {
      val tracedOp = rec.isDefined && (i % 4 == 1 || i % 4 == 2)
      if (tracedOp) rec.get.attach() else rec.foreach(_.detach())
      tracing = tracedOp
      val start = System.nanoTime()
      op(i, tracedOp)
      last = System.nanoTime() - start
      if (i == 2) liveAfterThird = Host.liveMb()
      System.err.println(f"[perfbench] op $i: ${last / 1e6}%.0f ms")
      i += 1
    }
    rec.foreach(_.detach())
    tracing = false
  }

  /** Records a traced op's Spark layers and how much of it child spans cover. */
  private def recordLayers(pick: Recorder => Option[Span]): Unit =
    rec.foreach(r => pick(r).foreach { s =>
      r.layers(s).foreach { case (k, v) => sample(k, v) }
      val kids = r.children(s)
      if (kids.nonEmpty) sample("trace.child_coverage", 1.0 - r.selfMs(s) / r.durMs(s))
    })

  private def lastSpan(r: Recorder, name: String): Option[Span] =
    r.spans.reverseIterator.find(s => s.name == name && s.kind == "call")

  private def result(extra: (String, Any)*): Map[String, Any] = {
    val traced = ops.filter(_.getOrElse("traced", false) == true).map(_("ms").asInstanceOf[Double])
    val plain = ops.filter(_.getOrElse("traced", false) == false).map(_("ms").asInstanceOf[Double])
    val layers = layerSamples.map { case (k, v) => k -> median(v.toSeq) }.toMap ++
      (if (rec.isDefined && traced.nonEmpty && plain.nonEmpty)
        Map("trace.overhead_ms" -> (median(traced.toSeq) - median(plain.toSeq))) else Map.empty)
    Map("setup_s" -> setupS, "ops" -> ops.toSeq, "layers" -> layers) ++ extra
  }

  // ---- sparkify_etl -------------------------------------------------------

  private def dirStats(dir: String): (Long, Long) = {
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      val parts = stream.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).map(_.toFile).toSeq
      (parts.size.toLong, parts.map(_.length).sum)
    } finally stream.close()
  }

  private val tables = Seq("songs", "artists", "users", "time", "songplays")

  /** Leaf files behind a file-source DataFrame, as its file index lists them. */
  private def listed(df: DataFrame): Long =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.collect {
      case h: HadoopFsRelation => h.location.listFiles(Nil, Nil).map(_.files.size.toLong).sum
    }.sum

  private def cachedBlocks(): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  private val starTypes = Seq("top_songs", "top_users", "top_user_id", "top_sessions")

  /** One README query over the written star schema, re-read from its Parquet. */
  private def starQuery(out: String, typ: String, user: String): DataFrame = {
    def t(n: String) = spark.read.parquet(s"$out/$n")
    typ match {
      case "top_songs" => SparkifyQueries.topSongs(t("songplays"), t("songs"), t("artists"))
      case "top_users" => SparkifyQueries.topUsers(t("songplays"), t("users"))
      case "top_user_id" => SparkifyQueries.topUserId(t("songplays"), t("users"))
      case "top_sessions" =>
        SparkifyQueries.topSessionsForUser(t("songplays"), t("users"), t("songs"), user)
    }
  }

  /** One op of the paper's pipeline: `runAll` over the lake, then each README
    * query once over what it wrote. Returns each part's time and the
    * queries' rows.
    */
  private def pipeline(out: String, user: String)
      : (Seq[(String, Double)], Map[String, Seq[Seq[String]]]) = {
    spark.catalog.clearCache()
    val t = System.nanoTime()
    if (tracing) span("runAll") {
      // runAll's two stages, called one by one so each gets a span
      span("processSongData")(SparkifyEtl.processSongData(spark, input, out))
      span("processLogData")(SparkifyEtl.processLogData(spark, input, out))
    } else SparkifyEtl.runAll(spark, input, out)
    val runAllMs = ms(t)
    val queries = starTypes.map { typ =>
      val q = System.nanoTime()
      val rows = span(typ)(starQuery(out, typ, user).collect())
      (typ, ms(q), rows.toSeq.map(_.toSeq.map(v => if (v == null) null else v.toString)))
    }
    (("runAll" -> runAllMs) +: queries.map(q => q._1 -> q._2), queries.map(q => q._1 -> q._3).toMap)
  }

  def etl(): Map[String, Any] = {
    val out = s"$work/etl_out"
    val user = opt("user")
    pipeline(out, user)
    endSetup()
    val results = mutable.LinkedHashMap.empty[String, mutable.Map[String, Int]]
    loop { (i, tracedOp) =>
      val start = System.nanoTime()
      val got = try Some(span("pipeline")(pipeline(out, user)))
        catch { case NonFatal(e) => System.err.println(s"[perfbench] pipeline failed: $e"); None }
      val opMs = ms(start)
      got.foreach { case (_, rows) => rows.foreach { case (typ, rs) =>
        val m = results.getOrElseUpdate(typ, mutable.LinkedHashMap.empty)
        val key = Json.str(rs)
        m(key) = m.getOrElse(key, 0) + 1
      } }
      val files = tables.map(n => n -> dirStats(s"$out/$n")).toMap
      ops += Map("type" -> "pipeline", "ms" -> opMs, "ok" -> got.isDefined, "traced" -> tracedOp,
        "parts" -> got.map(_._1.toMap).getOrElse(Map.empty),
        "files" -> files.map { case (k, v) => k -> v._1 }, "bytes" -> files.map { case (k, v) => k -> v._2 })
      if (tracedOp) rec.foreach { r =>
        recordLayers(lastSpan(_, "pipeline"))
        Seq("processSongData", "processLogData").foreach(n =>
          sample(s"etl.${n}_ms", lastSpan(r, n).map(r.durMs).getOrElse(0.0)))
        val run = lastSpan(r, "runAll")
        run.foreach(s => sample("etl.runAll_child_coverage", 1.0 - r.selfMs(s) / r.durMs(s)))
        val sinks = run.toSeq.flatMap(s => r.children(s).flatMap(r.children)).filter(_.kind == "sink")
        tables.foreach { n =>
          val mine = sinks.filter(_.name.split('/').last == n)
          sample(s"etl.sink.${n}_ms", mine.map(r.durMs).sum)
          Seq("files", "rows", "bytes").foreach(k =>
            sample(s"etl.sink.${n}_$k", mine.map(_.attrs.getOrElse(k, 0.0)).sum))
        }
        starTypes.foreach(typ => lastSpan(r, typ).foreach { s =>
          sample(s"star.${typ}_ms", r.durMs(s))
          sample(s"star.${typ}_jobs", r.layers(s)("spark.jobs"))
        })
        // DataFrame construction alone: the eager listing of each source
        val songs = r.span("readSongData")(SparkifyEtl.readSongData(spark, input))
        val logs = r.span("readLogData")(SparkifyEtl.readLogData(spark, input))
        Seq("readSongData", "readLogData").foreach(n =>
          sample(s"etl.${n}_ms", lastSpan(r, n).map(r.durMs).getOrElse(0.0)))
        sample("etl.files_listed", (listed(songs) + listed(logs)).toDouble)
        sample("etl.cached_blocks_after", cachedBlocks().toDouble)
      }
    }
    result("out" -> out, "user" -> user, "results" -> results.map { case (k, v) => k -> v.toMap }.toMap)
  }

  // ---- registry_loops -----------------------------------------------------

  def passes(): Map[String, Any] = {
    val names = opt("queries").split(',').toSeq
    val registry = SparkEntry.queries
    val fns = names.map(n => n -> registry(n))
    def runOne(n: String, fn: (SparkSession, String) => DataFrame): Boolean =
      try { fn(spark, input).write.format("noop").mode("overwrite").save(); true }
      catch { case NonFatal(e) => System.err.println(s"[perfbench] $n failed: $e"); false }
    // Checked executions are written to Parquet for the DuckDB oracle
    // (checks.py compares them): every query's first one, in the warm-up
    // pass, and after the measured window one more of each lake query,
    // whose table state carries over from one execution to the next.
    val check = s"$work/check"
    def checked(stage: String, qs: Seq[(String, (SparkSession, String) => DataFrame)]) =
      qs.map { case (n, fn) =>
        s"$stage/$n" -> (try { fn(spark, input).write.mode("overwrite").parquet(s"$check/$stage/$n"); None }
          catch { case NonFatal(e) => Some(e.toString.take(300)) })
      }
    val warm = checked("warm", fns)
    val oracle = SparkEntry.oracleSql
    new java.io.File(check).mkdirs()
    Json.write(s"$check/oracle_sql.json", names.flatMap(n => oracle.get(n).map(n -> _)).toMap)
    endSetup()
    loop { (i, tracedOp) =>
      val start = System.nanoTime()
      val per = span("pass") {
        fns.map { case (n, fn) =>
          val s = System.nanoTime()
          val ok = span(n)(runOne(n, fn))
          (n, ms(s), ok)
        }
      }
      val passMs = ms(start)
      ops += Map("type" -> "pass", "ms" -> passMs, "ok" -> per.forall(_._3), "traced" -> tracedOp,
        "queries" -> per.map { case (n, m, ok) => Map("name" -> n, "ms" -> m, "ok" -> ok) })
      if (tracedOp) rec.foreach { r =>
        recordLayers(lastSpan(_, "pass"))
        val pass = lastSpan(r, "pass").get
        val kids = r.children(pass).filter(_.kind == "call")
        val perQuery = kids.map(r.layers)
        sample("loop.jobs_per_query", perQuery.map(_("spark.jobs")).sum / kids.size)
        sample("loop.idle_ms_per_query", perQuery.map(_("spark.idle_ms")).sum / kids.size)
        Seq("relational", "text", "vector", "lake").foreach(m => sample(s"$m.wall_s",
          per.filter(q => Harness.moduleOf(q._1).contains(m)).map(_._2).sum / 1000))
        per.filter(q => Harness.moduleOf(q._1).contains("lake"))
          .foreach { case (n, m, _) => sample(s"lake.${n.takeWhile(_ != '_')}_ms", m) }
        sample("lake.files_written",
          kids.flatMap(r.children).filter(_.kind == "sink").map(_.attrs.getOrElse("files", 0.0)).sum)
      }
    }
    val after = checked("final", fns.filter { case (n, _) => Harness.moduleOf(n).contains("lake") })
    result("check_dir" -> check, "check_failed" -> (warm ++ after).collect { case (n, Some(e)) => n -> e }.toMap)
  }
}
