package graft

/** Scratch-space layout for everything the engine writes locally (sink
  * round-trip queries, dev benchmarks, the warehouse dir). One place to
  * configure instead of hardcoded absolute paths (ADVICE r5):
  * `SPARK_GRAFT_SCRATCH` overrides; the default keys off the process
  * working directory, which for sbt/driver runs is the repo root.
  */
object Scratch {
  def root: String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
      s"${sys.props.getOrElse("user.dir", ".")}/target/tmp")

  def path(name: String): String = s"$root/$name"

  /** Collision-free tag for run-scoped paths and table names, derived from
    * the input path. The previous `math.abs(s.hashCode)` recipe had two
    * bugs (ADVICE r5): `abs(Int.MinValue)` is still negative, and 32-bit
    * hash collisions let two different sf dirs clobber each other's
    * tables/paths. 48 bits of md5 make a cross-run collision ~2⁻⁴⁸ and the
    * tag is stable across JVMs (String.hashCode is too, but md5 is also
    * printable-safe and unsigned by construction).
    */
  def tag(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString

  /** Cheap content fingerprint of an input table path (a parquet file or
    * a directory of part files): md5 over the sorted (relative path,
    * length, mtime) triples of every LEAF file — filesystem metadata
    * only, no data scan. Folded into published-artifact roots (ADVICE
    * r14) so REGENERATING the corpus at the same path invalidates the
    * artifact instead of leaving a stale published copy that every new
    * session silently serves. Hardened per ADVICE r15: a nonexistent
    * path FAILS (a stable tag for missing input would pin an artifact
    * to garbage), an unlistable dir FAILS (silently fingerprinting
    * nothing is the same bug), and the walk is RECURSIVE so a
    * partitioned/nested table fingerprints its leaf files, not the
    * top-level subdir metadata (dir mtimes don't reliably change when a
    * leaf inside is rewritten in place). ADVICE r16: when the walk root
    * IS the file, relativize against it yields "" and the leaf NAME
    * dropped out of the descriptor — two single-file tables with equal
    * length+mtime fingerprinted identically; fall back to getName so
    * the name stays in (one more one-time artifact rebuild, as r16's
    * recursive-walk change was).
    */
  def fingerprint(path: String): String = {
    val root = new java.io.File(path)
    require(root.exists(), s"Scratch.fingerprint: input path does not exist: $path")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) {
        val kids = Option(f.listFiles()).getOrElse(
          throw new java.io.IOException(s"Scratch.fingerprint: cannot list $f"))
        kids.sortBy(_.getName).toIndexedSeq.flatMap(walk)
      } else Seq(f)
    val base = root.toPath
    val desc = walk(root)
      .map { x =>
        val rel = base.relativize(x.toPath).toString
        val name = if (rel.isEmpty) x.getName else rel
        s"$name:${x.length}:${x.lastModified}"
      }
      .mkString("\n")
    tag(desc)
  }

  private def deleteRecursively(dir: java.io.File): Unit = if (dir.exists()) {
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.walk(dir.toPath)
    try stream.iterator().asScala.toSeq.reverseIterator
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    finally stream.close()
  }

  /** Build-and-publish with first-writer-wins atomicity — the shared
    * lake-artifact protocol (generalized from the tokenizer's
    * publishTokenizerOnce, ADVICE r13/VERDICT r14 #1): build into a
    * PID-SCOPED staging dir (concurrent JVMs never contend on partial
    * files), stamp the completion marker, then rename(2) the staged dir
    * to the pid-free `root` — atomic on POSIX, and it FAILS if another
    * writer already published (non-empty target), in which case the
    * loser discards its staging and serves the winner's artifact, which
    * is equivalent by construction (same inputs, deterministic build).
    * Readers only ever observe a complete artifact: the marker is staged
    * before the rename makes anything visible at the published path —
    * this is what lets a NEW session/cluster serve by path instead of
    * rebuilding, the difference between a lake artifact and a
    * per-process cache.
    */
  def publishOnce(root: String, marker: String = "_built")(build: String => Unit): String = {
    if (new java.io.File(s"$root/$marker").exists()) return root
    // ADVICE r15 hardening, both about leaked staging dirs:
    // (1) OUR staging path may already exist — a crashed earlier process
    //     plus OS pid reuse — and Spark's overwrite only replaces the
    //     paths the current recipe writes, so stale strays would be
    //     PUBLISHED alongside the fresh build. Clear it first.
    // (2) Staging dirs of OTHER, now-dead pids have no owner left to
    //     clean them; sweep siblings whose pid no longer runs. Live pids
    //     are left alone — they are a concurrent writer mid-build.
    //     ADVICE r16 hardening: ProcessHandle.of only sees the LOCAL pid
    //     namespace — a writer in another container sharing this
    //     filesystem looks dead — so "dead" alone is not enough; the dir
    //     must ALSO be stale (mtime > 1h: far beyond any artifact build
    //     here, so a mid-build sibling is never younger-than-live). And
    //     a non-Long pid string (hand-made dir) must not throw out of
    //     publishOnce — parse under Try, skip on failure.
    val staging = s"${root}_stage_p${ProcessHandle.current().pid()}"
    deleteRecursively(new java.io.File(staging))
    val parent = new java.io.File(root).getParentFile
    val stagePat = s"${new java.io.File(root).getName}_stage_p(\\d+)".r
    val staleMs = 60L * 60 * 1000
    Option(parent).flatMap(p => Option(p.listFiles())).getOrElse(Array.empty)
      .foreach { f =>
        f.getName match {
          case stagePat(pid) =>
            val dead = scala.util.Try(pid.toLong).toOption.exists(p =>
              !ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
            val stale = System.currentTimeMillis() - f.lastModified() > staleMs
            if (dead && stale) deleteRecursively(f)
          case _ =>
        }
      }
    build(staging)
    new java.io.File(staging).mkdirs() // a no-file build still publishes
    new java.io.File(s"$staging/$marker").createNewFile()
    val from = java.nio.file.Paths.get(staging)
    val to = java.nio.file.Paths.get(root)
    java.nio.file.Files.createDirectories(to.getParent)
    try java.nio.file.Files.move(from, to, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException | _: java.nio.file.FileSystemException
          if new java.io.File(s"$root/$marker").exists() =>
        // lost the publish race — the winner's artifact is the one served
        deleteRecursively(from.toFile)
    }
    root
  }

  // --- numbered versions: the one commit protocol ------------------------
  //
  // A versioned table (q135's lake, every graft-fwb directory) advances by
  // one integer per commit. Two writers committing concurrently must not
  // lose either's update — the protocol Delta/Iceberg package, built here
  // from the same primitive they use: an atomic publish of version N that
  // FAILS if N already exists.
  //
  //  1. read the current version v (the snapshot the writer bases on)
  //  2. prepare the new snapshot's FULL content (data files are immutable
  //     and already written — only the version file is contended)
  //  3. CAS-publish as v+1: write the body to a temp file, then hard-link
  //     it to the version's name — link(2) atomically fails with EEXIST if
  //     another writer won, and readers only ever observe complete
  //     versions (the body is fully written before publish; rename-based
  //     moves are NOT a CAS on POSIX, rename replaces)
  //  4. on conflict: re-read the NEW current version, re-prepare against
  //     it (rebase — the merge logic re-runs over the winner's snapshot),
  //     retry; bounded attempts keep livelock finite and loud

  /** A directory of numbered versions, version N stored as the file
    * `dir/<prefix>N<suffix>`.
    */
  final case class VersionLog(dir: String, prefix: String = "", suffix: String = "") {
    def file(v: Int): java.io.File = new java.io.File(dir, s"$prefix$v$suffix")
  }

  /** A version CAS lost the race to a concurrent writer. */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** Committed versions, ascending. Only names whose middle part is all
    * ASCII digits count, so a commit's temp file is never taken for one.
    */
  def versions(log: VersionLog): Seq[Int] =
    Option(new java.io.File(log.dir).list()).getOrElse(Array.empty[String]).toSeq
      .flatMap { n =>
        val (p, s) = (log.prefix.length, log.suffix.length)
        val mid = if (n.length > p + s && n.startsWith(log.prefix) && n.endsWith(log.suffix))
          n.substring(p, n.length - s) else ""
        if (mid.nonEmpty && mid.length <= 9 && mid.forall(c => c >= '0' && c <= '9'))
          Some(mid.toInt)
        else None
      }.sorted

  /** Latest committed version (0 = no commits yet). */
  def currentVersion(log: VersionLog): Int = versions(log).lastOption.getOrElse(0)

  /** One CAS attempt: publish `body` as version `expectedVersion + 1`.
    * Throws [[CommitConflictException]] if that version already exists —
    * i.e. the writer's base snapshot is stale.
    */
  def casCommit(log: VersionLog, expectedVersion: Int, body: String): Int = {
    val v = expectedVersion + 1
    val dir = java.nio.file.Paths.get(log.dir)
    java.nio.file.Files.createDirectories(dir)
    val tmp = java.nio.file.Files.createTempFile(dir, s".commit$v-", ".tmp")
    try {
      java.nio.file.Files.writeString(tmp, body)
      java.nio.file.Files.createLink(log.file(v).toPath, tmp) // atomic CAS
      v
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(s"version $v of ${log.dir} already committed by another writer")
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** The retry loop around [[casCommit]]: `prepare` receives the base
    * version the attempt is rebased on and returns the new snapshot's
    * full body; a lost race re-reads and re-prepares. No update is ever
    * lost: the loser's rebase starts from the winner's version. Every
    * lost attempt means another writer committed, so `maxAttempts`
    * bounds how many concurrent writers one commit outlasts.
    */
  def commitWithRetry(log: VersionLog, maxAttempts: Int = 64)(prepare: Int => String): Int = {
    var attempt = 0
    while (true) {
      attempt += 1
      val base = currentVersion(log)
      try return casCommit(log, base, prepare(base))
      catch {
        case e: CommitConflictException => if (attempt >= maxAttempts) throw e
      }
    }
    -1 // unreachable
  }
}
