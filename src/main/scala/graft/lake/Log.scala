package graft.lake

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.Scratch

/** The one record of a lake table's state (Delta Lake's design, PAPERS.md,
  * VLDB 2020): version N is `<table>/_log/<N>.json`, committed through
  * [[Scratch.commitWithRetry]], and holds the table's FULL file set — the
  * schema and partition columns once in its header, then one entry per
  * data file with its path relative to the table root, length, mtime and
  * partition values or format stats. A reader opens one version file and
  * replays nothing, so the log needs no checkpoint.
  *
  * Data files are immutable and uniquely named ([[write]] puts each write
  * under its own `data/<uuid>/` directory), so a version is a consistent
  * snapshot from the moment it is published: an upsert or delete writes
  * the partitions it touches as new files and commits (old set − touched)
  * + new; a partition with no files in a version is deleted in that
  * version; older versions stay readable until [[vacuum]] retires them.
  * Files a writer wrote but never committed (it crashed, or lost the race
  * and rebased) are named by no version and so are never read.
  */
object Log {

  /** One data file of a version. `partition` holds the hive partition
    * values as strings (typed by the version's schema when read); `stats`
    * holds a format's own per-file statistics (graft-fwb's footer stats).
    */
  final case class FileEntry(path: String, length: Long, mtime: Long,
      partition: Map[String, String] = Map.empty, stats: JObject = JObject())

  /** A table state: the version it was read from (0 = the empty table
    * before the first commit), its schema, partition columns and files.
    */
  final case class Snapshot(schema: StructType, partitionColumns: Seq[String],
      files: Seq[FileEntry], version: Int = 0) {
    def partitionSchema: StructType = StructType(partitionColumns.map(schema(_)))

    /** `values` typed by the schema (Spark's internal representation). */
    def typed(values: Map[String, String], tz: String): Seq[Any] = partitionSchema.map { f =>
      values.get(f.name).filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
        .map(v => Cast(Literal(v), f.dataType, Some(tz)).eval()).orNull
    }
  }

  def versionLog(table: String): Scratch.VersionLog = Scratch.VersionLog(s"$table/_log")
  def versions(table: String): Seq[Int] = Scratch.versions(versionLog(table))
  def current(table: String): Int = Scratch.currentVersion(versionLog(table))

  /** Version `v` of `table`; version 0 is the empty table. A version the
    * log does not hold (never committed, or vacuumed) fails loudly.
    */
  def snapshot(table: String, v: Int): Snapshot =
    if (v == 0) Snapshot(new StructType(), Nil, Nil)
    else {
      val f = versionLog(table).file(v)
      require(f.exists(), s"$table: version $v is not in the log " +
        s"(have ${versions(table).mkString(",")})")
      parse(f, v)
    }

  def snapshot(table: String): Snapshot = snapshot(table, current(table))

  /** Commit the next version: `next` receives the version it is based on
    * and returns the table state to publish on top of it (its `version`
    * field is ignored: the log numbers it). A lost race re-runs `next`
    * over the winner's version, so the merge it performs rebases and no
    * update is lost. Returns the committed version number.
    */
  def commit(table: String)(next: Snapshot => Snapshot): Int =
    Scratch.commitWithRetry(versionLog(table))(base => render(next(snapshot(table, base))))

  /** Write `df` as new parquet files under `table/data/<uuid>/`,
    * hive-partitioned by `partitionColumns`, and return their entries. No
    * version names them until the caller commits them. The writer's
    * `_SUCCESS` marker and checksum files are removed, so a write
    * directory holds exactly its data files.
    */
  def write(df: DataFrame, table: String, partitionColumns: Seq[String]): Seq[FileEntry] = {
    val rel = s"data/${java.util.UUID.randomUUID()}"
    df.write.partitionBy(partitionColumns: _*).parquet(s"$table/$rel")
    val root = Paths.get(table)
    val walk = Files.walk(root.resolve(rel))
    val (data, side) = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      .partition(p => !"_.".contains(p.getFileName.toString.head)) finally walk.close()
    side.foreach(Files.delete)
    data.sortBy(_.toString).map { p =>
      val r = root.relativize(p).toString
      FileEntry(r, Files.size(p), Files.getLastModifiedTime(p).toMillis,
        r.split('/').toSeq.init.map(_.split("=", 2).map(ExternalCatalogUtils.unescapePathName))
          .collect { case Array(k, v) => k -> v }.toMap)
    }
  }

  /** `snap` as a DataFrame over exactly its logged files: Spark gets the
    * files, schema and partitions from the log through a file index whose
    * status cache already holds every directory, so building the frame
    * starts no listing job and no footer job however many files there are.
    */
  def read(s: SparkSession, table: String, snap: Snapshot): DataFrame = {
    val session = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val root = new Path(new File(table).getAbsoluteFile.toURI)
    val byDir = snap.files.groupBy(e => new Path(root, e.path).getParent).toSeq.sortBy(_._1.toString)
    val statuses: Map[Path, Array[FileStatus]] = byDir.map { case (d, es) =>
      d -> es.map(e => new FileStatus(e.length, false, 0, 0, e.mtime, new Path(root, e.path))).toArray
    }.toMap
    val tz = s.conf.get("spark.sql.session.timeZone")
    val parts = byDir.map { case (d, es) => PartitionPath(InternalRow.fromSeq(snap.typed(es.head.partition, tz)), d) }
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = statuses.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(session, parts.map(_.path), Map.empty,
      Some(snap.schema), cache, Some(PartitionSpec(snap.partitionSchema, parts)))
    val dataSchema = StructType(snap.schema.filterNot(f => snap.partitionColumns.contains(f.name)))
    session.baseRelationToDataFrame(HadoopFsRelation(index, snap.partitionSchema, dataSchema,
      None, new ParquetFileFormat, Map.empty)(session))
  }

  /** The files of `snap` whose partition values satisfy `pred`, a
    * predicate over the partition columns. It is evaluated on a local
    * relation of the distinct partition values, which the optimizer folds
    * on the driver: no job runs.
    */
  def filesWhere(s: SparkSession, snap: Snapshot, pred: Column): Seq[FileEntry] = {
    val parts = snap.files.map(_.partition).distinct
    val types = snap.partitionSchema.map(_.dataType)
    val rows = parts.zipWithIndex.map { case (p, i) =>
      Row.fromSeq(snap.typed(p, s.conf.get("spark.sql.session.timeZone")).zip(types)
        .map { case (v, t) => CatalystTypeConverters.convertToScala(v, t) } :+ i)
    }
    val hit = s.createDataFrame(rows.asJava, snap.partitionSchema.add("_graft_part", IntegerType))
      .filter(pred).select("_graft_part").collect().map(r => parts(r.getInt(0))).toSet
    snap.files.filter(e => hit(e.partition))
  }

  /** Retention: delete every data file that only versions below
    * `keepFrom` name, then those versions' log files, and return the
    * deleted files' paths. Works from the log alone (no directory
    * listing), so a writer's uncommitted files are never taken for dead
    * ones. Data files go first: a crash in between leaves an old version
    * that fails loudly on its missing files, never an unreachable file.
    */
  def vacuum(table: String, keepFrom: Int): Seq[String] = {
    val (old, kept) = versions(table).partition(_ < keepFrom)
    val live = kept.flatMap(snapshot(table, _).files.map(_.path)).toSet
    val dead = old.flatMap(snapshot(table, _).files.map(_.path)).distinct.filterNot(live)
    val top = new File(table).getAbsoluteFile
    dead.foreach { r =>
      val f = new File(top, r)
      Files.deleteIfExists(f.toPath)
      var d = f.getParentFile // prune the directories the delete emptied
      while (d != top && d.delete()) d = d.getParentFile
    }
    old.foreach(v => Files.deleteIfExists(versionLog(table).file(v).toPath))
    dead.map(r => new File(top, r).getPath)
  }

  private def render(snap: Snapshot): String = {
    import org.json4s.JsonDSL._
    val files = snap.files.map { e =>
      ("path" -> e.path) ~ ("length" -> e.length) ~ ("mtime" -> e.mtime) ~
        ("partition" -> e.partition) ~ ("stats" -> e.stats)
    }
    JsonMethods.compact(JsonMethods.render(
      ("schema" -> JsonMethods.parse(snap.schema.json)) ~
        ("partitionColumns" -> snap.partitionColumns) ~ ("files" -> files)))
  }

  private def parse(f: File, v: Int): Snapshot = {
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(Files.readString(f.toPath))
    val files = (j \ "files").extract[List[JObject]].map { e =>
      FileEntry((e \ "path").extract[String], (e \ "length").extract[Long],
        (e \ "mtime").extract[Long], (e \ "partition").extract[Map[String, String]],
        (e \ "stats").extract[JObject])
    }
    Snapshot(DataType.fromJson(JsonMethods.compact(j \ "schema")).asInstanceOf[StructType],
      (j \ "partitionColumns").extract[List[String]], files, v)
  }
}
