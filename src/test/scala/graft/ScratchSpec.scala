package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Laws for the scratch/artifact plumbing hardened in round 16 (ADVICE
  * r15): fingerprint totality + leaf sensitivity, publishOnce's staging
  * hygiene, and the put-if-absent version commit. JVM-only — no
  * SparkSession.
  */
class ScratchSpec extends AnyFunSuite {

  private def tmpDir(name: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d
  }

  test("fingerprint: nonexistent path fails loudly, never a stable tag") {
    val ex = intercept[IllegalArgumentException] {
      Scratch.fingerprint("/definitely/not/a/path/xyz")
    }
    assert(ex.getMessage.contains("does not exist"))
  }

  test("fingerprint: an in-place LEAF rewrite inside a nested dir changes the tag") {
    val root = tmpDir("fp")
    val part = new java.io.File(root, "part=a"); part.mkdirs()
    val leaf = new java.io.File(part, "data.bin")
    java.nio.file.Files.write(leaf.toPath, Array[Byte](1, 2, 3))
    leaf.setLastModified(1700000000000L)
    val before = Scratch.fingerprint(root.getPath)
    // same length, same name, different mtime — the dir-level metadata
    // the old flat walk hashed would NOT change here
    java.nio.file.Files.write(leaf.toPath, Array[Byte](9, 9, 9))
    leaf.setLastModified(1700000001000L)
    val after = Scratch.fingerprint(root.getPath)
    assert(before != after, "leaf rewrite must invalidate the fingerprint")
    // and the tag is path-relative: a sibling copy fingerprints equal
    val root2 = tmpDir("fp2")
    val part2 = new java.io.File(root2, "part=a"); part2.mkdirs()
    val leaf2 = new java.io.File(part2, "data.bin")
    java.nio.file.Files.write(leaf2.toPath, Array[Byte](9, 9, 9))
    leaf2.setLastModified(1700000001000L)
    assert(Scratch.fingerprint(root2.getPath) == after)
  }

  test("publishOnce: a stale pid-reused staging dir cannot leak strays into the artifact") {
    val base = tmpDir("pub")
    val root = s"${base.getPath}/artifact"
    // simulate a crashed earlier process WITH pid reuse: OUR staging path
    // already exists and contains a stray the current recipe won't write
    val staging = new java.io.File(s"${root}_stage_p${ProcessHandle.current().pid()}")
    staging.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(staging, "stray.bin").toPath, Array[Byte](7))
    Scratch.publishOnce(root) { dir =>
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.write(
        new java.io.File(dir, "real.bin").toPath, Array[Byte](1))
    }
    val published = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(published("real.bin") && published("_built"))
    assert(!published("stray.bin"), "pre-existing staging strays must be cleared")
  }

  test("publishOnce: stale dead-pid staging swept; fresh, other-root, and non-numeric survive") {
    val base = tmpDir("sweep")
    val root = s"${base.getPath}/artifact"
    // swept: pid certainly dead (pid numbers are bounded well below this)
    // AND stale (ADVICE r16: liveness alone can't see writers in another
    // container's pid namespace sharing this filesystem)
    val dead = new java.io.File(s"${root}_stage_p999999999")
    dead.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dead, "junk.bin").toPath, Array[Byte](7))
    dead.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    // survives: same dead pid but FRESH mtime — could be a live writer in
    // a sibling container mid-build
    val fresh = new java.io.File(s"${root}_stage_p999999998")
    fresh.mkdirs()
    // survives: a pid string beyond Long range must neither throw out of
    // publishOnce nor be swept (we can't reason about its owner)
    val junkPid = new java.io.File(s"${root}_stage_p99999999999999999999")
    junkPid.mkdirs()
    junkPid.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    // survives: THIS live process under a DIFFERENT artifact root
    val otherRoot = new java.io.File(
      s"${base.getPath}/other_stage_p999999999")
    otherRoot.mkdirs()
    Scratch.publishOnce(root) { dir =>
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.write(
        new java.io.File(dir, "real.bin").toPath, Array[Byte](1))
    }
    assert(!dead.exists(), "stale dead-pid staging for this root must be swept")
    assert(fresh.exists(), "a fresh staging dir may be a cross-namespace writer mid-build")
    assert(junkPid.exists(), "unparseable pid: skipped, not thrown on and not swept")
    assert(otherRoot.exists(), "staging dirs of OTHER artifact roots are not ours to sweep")
    assert(new java.io.File(s"$root/real.bin").exists())
  }

  test("publishOnce: second writer loses the race and serves the winner's artifact") {
    val base = tmpDir("race")
    val root = s"${base.getPath}/artifact"
    Scratch.publishOnce(root) { dir =>
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.write(
        new java.io.File(dir, "v.bin").toPath, Array[Byte](1))
    }
    var secondBuildRan = false
    Scratch.publishOnce(root) { _ => secondBuildRan = true }
    assert(!secondBuildRan, "marker present: the build must not re-run")
    assert(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$root/v.bin").toPath).sameElements(Array[Byte](1)))
  }

  test("version commit: a stale base conflicts without touching the winner; the retry rebases") {
    val log = Scratch.VersionLog(tmpDir("vlog").getPath, "_manifest.v", ".json")
    def bytesOf(v: Int) = java.nio.file.Files.readString(log.file(v).toPath)
    java.nio.file.Files.writeString(log.file(1).toPath, "first")
    java.nio.file.Files.writeString(log.file(2).toPath, "winner")
    // a killed writer's temp file and a foreign name are not versions
    java.nio.file.Files.writeString(new java.io.File(log.dir, ".commit3-x.tmp").toPath, "")
    java.nio.file.Files.writeString(new java.io.File(log.dir, "_manifest.v.json").toPath, "")
    assert(Scratch.versions(log) == Seq(1, 2))
    // the caller still believes version 1 is current
    intercept[Scratch.CommitConflictException] { Scratch.casCommit(log, 1, "stale") }
    assert(bytesOf(2) == "winner", "a lost commit must never replace the committed version")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val v = Scratch.commitWithRetry(log) { base => seen += base; s"on top of $base" }
    assert(v == 3 && seen.toSeq == Seq(2))
    assert(bytesOf(3) == "on top of 2" && bytesOf(2) == "winner")
  }

  test("Scratch.scala holds the only version-commit link and non-replacing atomic move under src/main") {
    // comments are dropped first, so scaladoc may still name the calls;
    // on Linux an ATOMIC_MOVE is rename(2), which silently replaces an
    // existing target, so it is never a put-if-absent
    def offends(source: String): Boolean = {
      val code = source.replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("//[^\n]*", "")
      val moves = """Files\s*\.\s*move\s*\((?:[^()]|\([^()]*\))*\)""".r.findAllIn(code)
      """\bcreateLink\b""".r.findFirstIn(code).isDefined ||
        moves.exists(m => m.contains("ATOMIC_MOVE") && !m.contains("REPLACE_EXISTING"))
    }
    assert(offends("java.nio.file.Files.createLink(a, b)"))
    assert(offends("Files.move(tmp.toPath, Paths.get(v),\n  StandardCopyOption.ATOMIC_MOVE)"))
    assert(!offends("Files.move(tmp.toPath, fin.toPath, REPLACE_EXISTING, ATOMIC_MOVE)"))
    assert(!offends("/** Files.createLink */ val x = 1 // Files.move(a, b, ATOMIC_MOVE)"))
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found from ${sys.props("user.dir")}")
    val files = java.nio.file.Files.walk(root)
    val sources = try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    val offenders = sources.filter(f => offends(java.nio.file.Files.readString(f))).map(_.toString).sorted
    assert(offenders == Seq("src/main/scala/graft/Scratch.scala"))
  }
}
