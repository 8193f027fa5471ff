package graft
object Bench {
  /** Host-throughput probe (VERDICT r15 #6): seconds to sha256-chain a
    * fixed 512 MiB of deterministic bytes, min of two passes. Fixed work
    * on one core → the number IS the host's current single-thread
    * throughput, so certification can compare runs on evidence instead of
    * narrative: tools/certify.py refuses to merge runs whose probes
    * differ >5% and reports probe-normalized totals next to raw. Runs
    * BEFORE the warm-ups and again AFTER the measured loop, so a
    * mid-bench host slowdown (the r15 morning elevation) is visible as
    * pre/post disagreement inside one artifact.
    */
  private def cpuProbe(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    var i = 0
    while (i < buf.length) { buf(i) = (i * 31 + 7).toByte; i += 1 }
    def pass(n: Int): Double = {
      val t0 = System.nanoTime()
      var k = 0
      while (k < n) { md.update(buf); k += 1 }
      md.digest() // consume so the JIT can't drop the chain
      (System.nanoTime() - t0) / 1e9
    }
    // untimed 64 MiB warm-up: the first movers runs showed the PRE probe
    // ~8% above POST purely from JIT/intrinsic warm-up of this loop —
    // that bias would eat the whole 5% merge band certify.py enforces
    pass(64)
    math.min(pass(512), pass(512))
  }

  /** Parallel-throughput probe: 8 threads each sha256-chaining 256 MiB,
    * wall seconds. Round-16 finding: the r12→r16 host elevation (+12%
    * registry median) is INVISIBLE to the single-thread probe (python
    * and JVM both at parity) — whatever degrades the box under
    * multi-core load (co-tenancy, memory bandwidth, frequency caps)
    * only shows when all cores push at once, which is exactly how the
    * bench runs. Certification compares BOTH probes: single-thread for
    * silicon parity, this one for the machine's deliverable throughput.
    */
  private def cpuProbeMt(): Double = {
    def chain(iters: Int): Unit = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val buf = new Array[Byte](1 << 20)
      var i = 0
      while (i < buf.length) { buf(i) = (i * 17 + 3).toByte; i += 1 }
      var k = 0
      while (k < iters) { md.update(buf); k += 1 }
      md.digest()
    }
    chain(32) // JIT warm-up on the calling thread, untimed
    val t0 = System.nanoTime()
    val threads = (1 to 8).map(_ => new Thread(() => chain(256)))
    threads.foreach(_.start()); threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Scratch-I/O probe: write 256 MiB to the scratch dir (where shuffle
    * spills and artifacts live), fsync, read it back, delete; wall
    * seconds. Round-16 finding #2: the shuffle-heavy family's 10× times
    * moved 3–4× between rounds on identical code while BOTH sha probes
    * sat near parity — CPU instruments cannot see storage/writeback
    * pressure, which is exactly what prices a 9M-pair banded shuffle.
    * This probe makes the third axis (scratch I/O) part of every run
    * artifact, so a movers table can cite it instead of narrative.
    */
  private def ioProbe(): Double = {
    val f = new java.io.File(Scratch.path(s"_ioprobe_p${ProcessHandle.current().pid()}"))
    f.getParentFile.mkdirs()
    val buf = new Array[Byte](1 << 20)
    var i = 0
    while (i < buf.length) { buf(i) = (i * 13 + 11).toByte; i += 1 }
    val t0 = System.nanoTime()
    try {
      val out = new java.io.FileOutputStream(f)
      try {
        var k = 0
        while (k < 256) { out.write(buf); k += 1 }
        out.getFD.sync()
      } finally out.close()
      val in = new java.io.FileInputStream(f)
      try { var n = 0; while (n != -1) n = in.read(buf) } finally in.close()
      (System.nanoTime() - t0) / 1e9
    } finally f.delete()
  }

  /** Random-access scratch-I/O probe (round 19): 2048 random-offset 4 KiB
    * writes + fsync + 2048 random 4 KiB reads over a 64 MiB scratch file,
    * wall seconds. Why a FOURTH probe: the r19 io-parity re-measure found
    * the state-store family (q187/q146/q155) at 1.2–1.5× normalized vs
    * r17 while the registry median sat at 1.06× and all THREE existing
    * probes read parity — the sequential io probe cannot see random/
    * small-file pressure, which is exactly what a state store and a
    * many-small-file lake layout pay. Deterministic LCG offsets, so the
    * probe measures the same access pattern every run.
    */
  private def ioRandProbe(): Double = {
    val f = new java.io.File(Scratch.path(s"_iorprobe_p${ProcessHandle.current().pid()}"))
    f.getParentFile.mkdirs()
    val raf = new java.io.RandomAccessFile(f, "rw")
    try {
      val size = 64L << 20
      raf.setLength(size)
      val buf = new Array[Byte](4096)
      var i = 0
      while (i < buf.length) { buf(i) = (i * 7 + 3).toByte; i += 1 }
      var seed = 0x9e3779b97f4a7c15L
      def nextOff(): Long = {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        ((seed >>> 17) % (size - 4096)) & ~4095L
      }
      val t0 = System.nanoTime()
      var k = 0
      while (k < 2048) { raf.seek(nextOff()); raf.write(buf); k += 1 }
      raf.getFD.sync()
      k = 0
      while (k < 2048) { raf.seek(nextOff()); raf.readFully(buf); k += 1 }
      (System.nanoTime() - t0) / 1e9
    } finally { raf.close(); f.delete() }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec's "No Partition Defined" warning fires per-task on the
    // four documented-bounded global windows (q68/q103/q120/q128) and
    // dominated the r7 bench tail. Those windows are GUARDED in code
    // (raise_error past their declared bounds — the loud failure the
    // warning exists to prompt), so the repeated warning is noise here.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // Untimed warm-up: JVM/codegen/parquet-reader init otherwise lands on
    // whichever query happens to run first (~4s of noise on its number).
    // Runs at sf0.001 so no bench-scale data is pre-read — this warms the
    // parquet reader, whole-stage codegen, and the native kernels, not the
    // OS page cache of the measured tables.
    val warmDir = "/root/testdata/sf0.001"
    // noop sink: full evaluation of every output column without storage.
    // `.count()` let Catalyst prune unevaluated projections, so map-only
    // queries were timed as near-empty scans (VERDICT r1 #4) — these
    // numbers measure the operators, at the cost of totals not being
    // comparable to BENCH_r01/r02 for map-heavy queries.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // Warm-ups are individually fenced: round 8's bench died with rc=1 and
    // ZERO timings because one broken warm-up query threw before the
    // measured loop started. A failed warm-up must cost its queries their
    // warm cache, never the round's entire bench signal.
    // NonFatal only (ADVICE r9): an OutOfMemoryError / LinkageError in a
    // warm-up means a corrupted JVM — timings measured after it would be
    // garbage, so fatal errors must kill the bench, not be swallowed.
    def warm(body: => Unit): Unit =
      try body catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warm-up failed (continuing): ${e.getMessage}")
      }
    val probePre = cpuProbe()
    val probeMtPre = cpuProbeMt()
    val probeIoPre = ioProbe()
    val probeIorPre = ioRandProbe()
    warm(SparkEntry.entry(spark).count())
    // q40 additionally warms the langid regexps + anti-join codegen paths
    Seq("q20_dedup_minhash", "q18_knn_topk", "q12_events_hourly", "q40_corpus_clean")
      .foreach(q => warm(run(SparkEntry.queries(q)(spark, warmDir))))
    // failed queries report -1 (never a plausible elapsed time) and land in
    // "errors" — a regression must not masquerade as a fast success.
    // Min-of-N (N=2): single-run timings drifted +25% round-over-round on
    // untouched code (VERDICT r7 #2) — environment noise, not plan changes.
    // The min of two runs is the steady-state cost of the PLAN (what a
    // regression gate needs); it costs ~2× bench wall-time.
    val reps = 2
    // Dev aid (driver never sets it): SPARK_GRAFT_SKIP=q27_cosine_top_pairs
    // excludes named queries — used by the sf1-replica scaling runs to
    // leave out the declared quadratic-by-design baselines (SCALING.md
    // names each exclusion next to its measurement).
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
    // Dev aid (driver never sets it): SPARK_GRAFT_ONLY=q19_...,q20_...
    // restricts to named queries — Verify's targeting device, used by the
    // jittered-replica LSH measurements (SCALING.md round 15).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val results = SparkEntry.queries
      .filter(q => only.forall(_.contains(q._1)) && !skip.contains(q._1))
      .map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // NonFatal here too (review r10): an OOM mid-bench must kill the
        // run — every timing after it would come from a corrupted JVM and
        // be published as valid.
        val ok = try { run(fn(spark, sfDir)); true }
          catch { case scala.util.control.NonFatal(_) => false }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    // The harness keeps only the last ~2000 chars of output and parses one
    // JSON line out of it. The per-query map lived ON that line through
    // round 10 and hit 1,698/2,000 chars at 186 queries (~28 slots left) —
    // the cliff VERDICT r10 next #7 asks to remove permanently. Split the
    // signal: the PARSED final line is O(1) in registry size (total + count
    // + sf + errors-when-any), and the full per-query map goes to a JSON
    // FILE (plus one unparsed stdout line just before the final one, so a
    // bare transcript still shows it while the tail window lasts).
    // Keys are the bare numeric prefixes ("132" for q132_*, `q` stripped;
    // see README.md query table), values CENTISECOND INTEGERS ("28" =
    // 0.28 s) as since round 10 — now declared by "qunit":"cs" inside the
    // per-query file itself. Failed queries stay -1 (never a plausible
    // centisecond count ≥ 0) and are ALSO named on the parsed line.
    def short(name: String): String = name.takeWhile(_ != '_').stripPrefix("q")
    require(results.keys.map(short).toSet.size == results.size,
      "query numeric prefixes must be unique for the compact bench keys")
    // Locale.ROOT formatting: the f-interpolator uses the default locale,
    // which renders 0.28 as "0,28" under e.g. de_DE and breaks the JSON
    // parse of the one line the harness keeps (ADVICE r5).
    def fmt(v: Double, prec: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(v))
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + short(k) + "\":" + (if (v < 0) "-1" else math.round(v * 100).toString)
    }.mkString("{", ",", "}")
    // "errors" appears only when non-empty — saves line chars against the
    // driver's 2000-char parse window in the (normal) all-green case
    val failed = results.collect { case (k, v) if v < 0 => "\"" + short(k) + "\"" }
    val errs = if (failed.isEmpty) ""
      else failed.mkString(""","errors":[""", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    val probePost = cpuProbe()
    val probeMtPost = cpuProbeMt()
    val probeIoPost = ioProbe()
    val probeIorPost = ioRandProbe()
    spark.stop()
    // sf basename only: the full path spends 16 line chars repeating
    // "/root/testdata/" that the driver already knows.
    val sf = new java.io.File(sfDir).getName
    // probe pairs rendered once, shared by the run file and BOTH stdout
    // lines (VERDICT r17 wrong #1: the r17 raw driver artifact looked like
    // a 2.8x regression because its probes lived only in the builder's
    // wrapper runs — every artifact must carry its own window evidence)
    val stJ = s"[${fmt(probePre, 3)},${fmt(probePost, 3)}]"
    val mtJ = s"[${fmt(probeMtPre, 3)},${fmt(probeMtPost, 3)}]"
    val ioJ = s"[${fmt(probeIoPre, 3)},${fmt(probeIoPost, 3)}]"
    val iorJ = s"[${fmt(probeIorPre, 3)},${fmt(probeIorPost, 3)}]"
    // probes AFTER the queries map: the driver keeps only the LAST ~2000
    // chars of stdout, truncating this line from the FRONT — trailing
    // fields survive in the tail, leading ones (where the probes sat
    // through r17) do not
    val perQueryJson =
      s"""{"qunit":"cs","sf":"$sf","reps":$reps,"queries":$qs,"cpu_probe_sec":$stJ,"cpu_probe_mt_sec":$mtJ,"io_probe_sec":$ioJ,"io_rand_probe_sec":$iorJ}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File(s"bench_perquery_$sf.json").getAbsolutePath)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), perQueryJson + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] per-query file write failed ($outPath): ${e.getMessage}")
    }
    // JSON-escape the interpolated path (ADVICE r11): an env-supplied value
    // with a quote/backslash must not break the one line the harness parses.
    val outPathJson = outPath.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    println(perQueryJson) // unparsed context line — the file is canonical
    // st/mt/io probe pairs ride the PARSED line too (short and complete in
    // any tail window), so BENCH_r{N}.json is self-adjudicating and
    // tools/certify.py can gate on the driver artifact directly
    println(s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","nq":${results.size},"st":$stJ,"mt":$mtJ,"io":$ioJ,"ior":$iorJ,"perquery":"$outPathJson"$errs,"sf":"$sf"}""")
  }
}
