package graft.sources

import java.io.{BufferedOutputStream, DataOutputStream, File, FileOutputStream}
import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

import graft.expressions.KernelOps

/** DataSource V2 WRITE path for GFWB — the sink half of the connector,
  * with the two-phase commit protocol a distributed sink needs to be
  * exactly-once at the job level:
  *
  *  - each task ATTEMPT streams its partition into its own STAGED file
  *    (`.<uuid>-<partition>-<task>.gfwb.tmp` — dot-prefixed and
  *    wrong-suffixed, so the read path's `*.gfwb` listing can never see
  *    it, and attempt-unique, so retries/speculation never share a file),
  *  - task commit returns the staged path as its [[WriterCommitMessage]],
  *  - job `commit` renames every staged file to its final name in one
  *    driver-side pass (plus, under truncate/overwrite, deletes the
  *    previous generation first),
  *  - job `abort` deletes the staged files and leaves the previous
  *    generation untouched.
  *
  * A failed or speculative task therefore contributes nothing visible;
  * a failed JOB leaves the destination exactly as it was (FwbSourceSpec
  * injects a mid-write failure and pins both). The per-file priority
  * dictionary is built order-of-appearance per task (≤255 values — the
  * byte code's contract, enforced loudly), so writers need no global
  * coordination: the footer makes each file self-describing.
  */
private[sources] class FwbWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new FwbWrite(path, info.schema(), doTruncate)
}

private[graft] class FwbWrite(path: String, schema: StructType, truncate: Boolean)
    extends Write with BatchWrite {
  require(schema.fieldNames.sameElements(FwbFormat.schema.fieldNames) &&
    schema.fields.map(_.dataType).sameElements(FwbFormat.schema.fields.map(_.dataType)),
    s"graft-fwb expects schema ${FwbFormat.schema.simpleString}, got ${schema.simpleString}")

  override def toBatch: BatchWrite = this
  override def toStreaming: streaming.StreamingWrite = new FwbStreamingWrite(path)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    new File(path).mkdirs()
    new FwbWriterFactory(path, UUID.randomUUID().toString)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed = messages.collect {
      case FwbCommitMessage(p, st) if p != null => (new File(p), st)
    }
    if (truncate) {
      Option(new File(path).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".gfwb")).foreach(_.delete())
    }
    val promoted = committed.map { case (f, st) =>
      // .<uuid>-<pid>.gfwb.tmp → part-<uuid>-<pid>.gfwb
      val fin = new File(f.getParent,
        "part-" + f.getName.stripPrefix(".").stripSuffix(".tmp"))
      require(f.renameTo(fin), s"commit rename failed: $f -> $fin")
      fin.getName -> st
    }
    // the log version and stats manifest, from the tasks' own stats
    FwbFormat.writeManifest(path, promoted.toMap, truncate)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case FwbCommitMessage(p, _) if p != null => new File(p).delete()
      case _ =>
    }
}

/** Task → driver: the staged path plus the footer stats the task just
  * wrote — the driver builds the directory manifest from these, reading
  * no file it did not itself rename.
  */
private[graft] case class FwbCommitMessage(stagedPath: String,
    stats: FwbFormat.FwbStats) extends WriterCommitMessage

/** STREAMING write — the connector's fourth surface (VERDICT r11 next
  * #2), completing the read/write × batch/streaming matrix. Exactly-once
  * at the EPOCH level, by construction rather than by bookkeeping:
  *
  *  - each task attempt stages `.e<epoch>-p<partition>-<task>.gfwb.tmp`
  *    (attempt-unique, invisible to readers — the batch staging rules);
  *  - epoch commit promotes each staged file to the DETERMINISTIC final
  *    name `part-e<epoch>-p<partition>.gfwb`. A replayed epoch (restart
  *    before the sink's commit was recorded) re-processes the same
  *    offset range into the same final names, and the promote SKIPS any
  *    name that already exists — the replay's staged bytes are simply
  *    dropped. Idempotence needs no side ledger: the name IS the ledger.
  *  - the directory manifest merges each epoch's task stats at commit,
  *    so the streaming READER keeps planning micro-batches from cached
  *    stats; committed files stay immutable and append-only — exactly
  *    the contract [[FwbMicroBatchStream]] assumes, so a GFWB dir can be
  *    simultaneously a stream sink and a stream source.
  *  - epoch abort deletes only its own staged files; committed
  *    generations are never touched (the batch two-phase discipline).
  */
private[graft] class FwbStreamingWrite(path: String)
    extends streaming.StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : streaming.StreamingDataWriterFactory = {
    new File(path).mkdirs()
    new FwbStreamingWriterFactory(path)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val committed = messages.collect {
      case FwbCommitMessage(p, st) if p != null => (new File(p), st)
    }
    val prior = FwbFormat.readManifest(path)
    val promoted = committed.flatMap { case (f, st) =>
      // .e<epoch>-p<pid>-<task>.gfwb.tmp → part-e<epoch>-p<pid>.gfwb
      // (task attempt id dropped: the final name must be attempt- and
      // replay-invariant for the exactly-once skip below to hold)
      val base = f.getName.stripPrefix(".").stripSuffix(".tmp")
      val finName = "part-" + base.substring(0, base.lastIndexOf('-')) + ".gfwb"
      val fin = new File(f.getParent, finName)
      if (fin.exists()) {
        // replayed epoch: drop the staged copy. Heal the stats ONLY when
        // the manifest lacks an entry — the self-healing case where the
        // prior attempt crashed between its rename and its manifest write
        // (ADVICE r12), leaving the file to plan from footer reads
        // forever. An EXISTING entry already describes the committed
        // bytes; the replay's staged bytes were just discarded and may
        // differ (partition count / row routing can change across a
        // restart), so overwriting would poison metadata-only pushdowns
        // (ADVICE r13). For the same reason the heal reads the COMMITTED
        // file's footer instead of adopting the replay's stats (ADVICE
        // r14): in exactly the crash window the heal targets, `st`
        // describes bytes that were just thrown away — one footer read,
        // only in the rare heal case, keeps the manifest describing the
        // bytes that are actually in the file.
        f.delete()
        if (prior.contains(fin.getName)) None
        else Some(fin.getName -> FwbFormat.readFooter(fin.getPath))
      } else {
        require(f.renameTo(fin), s"epoch commit rename failed: $f -> $fin")
        Some(fin.getName -> st)
      }
    }
    if (promoted.nonEmpty)
      FwbFormat.writeManifest(path, promoted.toMap, truncate = false)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case FwbCommitMessage(p, _) if p != null => new File(p).delete()
      case _ =>
    }
}

private[graft] class FwbStreamingWriterFactory(path: String)
    extends streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new FwbDataWriter(s"$path/.e$epochId-p$partitionId-$taskId.gfwb.tmp")
}

private[sources] class FwbWriterFactory(path: String, writeId: String)
    extends DataWriterFactory {
  // taskId in the staged name keeps retried/speculative ATTEMPTS of the
  // same partition on disjoint files: the losing attempt's abort deletes
  // only its own stage, and only the attempt whose commit message reaches
  // the driver gets promoted — without it, attempt B would truncate the
  // file attempt A is still writing
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FwbDataWriter(s"$path/.$writeId-$partitionId-$taskId.gfwb.tmp")
}

private[sources] class FwbDataWriter(staged: String) extends DataWriter[InternalRow] {
  private var out: DataOutputStream = _
  private val dict = mutable.LinkedHashMap.empty[String, Int]
  private val bloom = new Array[Byte](FwbFormat.BloomBytes)
  private var n = 0L
  private var minKey = Long.MaxValue
  private var maxKey = Long.MinValue

  override def write(row: InternalRow): Unit = {
    if (out == null) // empty partitions never create a file
      out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(staged)))
    val k = row.getLong(0)
    out.writeLong(k); out.writeLong(row.getLong(1)); out.writeLong(row.getLong(2))
    val prio = row.getUTF8String(3).toString
    val code = dict.getOrElseUpdate(prio, {
      require(dict.size < 256, "GFWB dictionary overflow: >255 distinct priority values")
      dict.size
    })
    out.writeByte(code)
    KernelOps.bloomInsert(bloom, row.getLong(1))
    n += 1; if (k < minKey) minKey = k; if (k > maxKey) maxKey = k
  }

  override def commit(): WriterCommitMessage = {
    if (out == null) return FwbCommitMessage(null, null)
    val st = FwbFormat.FwbStats(n, minKey, maxKey, dict.keys.toArray, bloom)
    FwbFormat.writeFooter(out, st)
    out.close(); out = null
    FwbCommitMessage(staged, st)
  }

  override def abort(): Unit = {
    if (out != null) { out.close(); out = null }
    new File(staged).delete()
  }

  override def close(): Unit =
    if (out != null) { out.close(); out = null }
}
