package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{SparkifyEtl, SparkifyQueries}

/** End-to-end golden tests of the Sparkify pipeline over the checked-in
  * JSON fixture (src/test/resources/sparkify — FIXTURES.md §B). The fixture
  * is designed so the reference's four analytic queries (README.md:111–276)
  * have exact hand-computed answers, including its edge cases: empty/null
  * keys, duplicate song records, the multi-artist same-title note
  * (README.md:109), a mid-log level change, unmatched plays → null FKs,
  * a month-boundary (row_number restart), and sub-second timestamps
  * (second-truncation semantics).
  */
class SparkifyEtlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val fixture: String =
    getClass.getResource("/sparkify").getPath
  lazy val outDir: String = {
    val d = Files.createTempDirectory("sparkify_out").toString
    SparkifyEtl.runAll(spark, fixture, d)
    d
  }
  private def table(name: String): DataFrame = spark.read.parquet(s"$outDir/$name")

  test("songs: empty-string and null song_id dropped, duplicates collapsed, hive layout") {
    val songs = table("songs")
    val ids = songs.select("song_id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq == Seq("SOHEY1", "SOHEY2", "SOLUN1", "SOYOU1"))
    assert(new java.io.File(s"$outDir/songs/year=1990/artist_id=ARDY1").isDirectory)
  }

  test("artists: kept even when song_id was empty/null; deduplicated") {
    val ids = table("artists").select("artist_id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq == Seq("ARDY1", "ARLUN1", "ARNUL1", "ARUSH1", "ARUSH2", "ARXX1"))
  }

  test("users: empty userId dropped; level change yields two rows for one user") {
    val users = table("users")
    assert(users.count() == 4)
    val tegan = users.where(users("user_id") === "80").collect()
    assert(tegan.map(_.getAs[String]("level")).sorted.toSeq == Seq("free", "paid"))
    assert(users.where(users("user_id") === "").count() == 0)
  }

  test("time: one row per songplay event (not deduped — reference quirk); second truncation") {
    import spark.implicits._
    val time = table("time")
    assert(time.count() == 11) // 11 NextSong events incl. the empty-user one
    // Kate's two plays 900ms apart truncate to the same second
    val kateSecond = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1542268800L))
    assert(time.where($"start_time" === kateSecond).count() == 2)
    // weekday is the intended 'E' capability, not the reference's 'F' bug
    val wd = time.select("weekday").distinct().collect().map(_.getString(0)).toSet
    assert(wd.subsetOf(Set("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")))
  }

  test("songplays: unmatched plays keep null FKs; ids restart per (year,month) and are dense") {
    import spark.implicits._
    val sp = table("songplays")
    assert(sp.count() == 11)
    assert(sp.where($"song_id".isNull).count() == 2) // Garage Demo + Winter Tune
    val perMonth = sp.groupBy($"year", $"month")
      .agg(org.apache.spark.sql.functions.countDistinct($"songplay_id").as("d"),
        org.apache.spark.sql.functions.max($"songplay_id").as("mx"),
        org.apache.spark.sql.functions.count($"songplay_id").as("n"))
      .collect()
    assert(perMonth.length == 2) // Nov + Dec 2018
    perMonth.foreach { r =>
      assert(r.getAs[Long]("d") == r.getAs[Long]("n"))
      assert(r.getAs[Int]("mx").toLong == r.getAs[Long]("n"))
    }
  }

  /** The two relations the pipeline caches, as it reads them; a cached
    * plan shows in `storageLevel` (the cache manager's lookup by plan). */
  private def pipelineCaches: Seq[DataFrame] = Seq(
    SparkifyEtl.readSongData(spark, fixture),
    SparkifyEtl.songplayEvents(SparkifyEtl.readLogData(spark, fixture)))

  test("runAll releases the song and event relations it cached") {
    assert(new java.io.File(s"$outDir/songplays").isDirectory)
    pipelineCaches.foreach(df => assert(df.storageLevel == StorageLevel.NONE))
  }

  test("processSongData on its own releases the song relation it cached") {
    val out = Files.createTempDirectory("sparkify_songs").toString
    SparkifyEtl.processSongData(spark, fixture, out)
    assert(new java.io.File(s"$out/artists").isDirectory)
    assert(SparkifyEtl.readSongData(spark, fixture).storageLevel == StorageLevel.NONE)
  }

  test("a sink that throws leaves nothing cached, from runAll and from either stage") {
    // an output dir nested under a regular file cannot be created
    val file = Files.createTempFile("sparkify_blocker", ".txt")
    val out = s"$file/out"
    Seq[(org.apache.spark.sql.SparkSession, String, String) => Unit](
      SparkifyEtl.runAll, SparkifyEtl.processSongData, SparkifyEtl.processLogData).foreach { stage =>
      intercept[Exception](stage(spark, fixture, out))
      pipelineCaches.foreach(df => assert(df.storageLevel == StorageLevel.NONE))
    }
  }

  /** Copies the fixture's song files into a fresh temp `song_data`, the
    * i-th file under `leafDirs(i % leafDirs.size)`; returns the lake root.
    */
  private def songLake(leafDirs: Seq[String]): Path = {
    val root = Files.createTempDirectory("sparkify_lake")
    val songs = Files.list(Paths.get(fixture, "song_data/A/A/A"))
    val files = try songs.iterator().asScala.toList.sorted finally songs.close()
    leafDirs.indices.foreach { i =>
      val src = files(i % files.size)
      val dir = Files.createDirectories(root.resolve("song_data").resolve(leafDirs(i)))
      Files.copy(src, dir.resolve(s"$i-${src.getFileName}"), StandardCopyOption.COPY_ATTRIBUTES)
    }
    root
  }

  /** 40 leaf dirs, at most 8 per level: a 4-level glob over them expands
    * to more than Spark's 32-path threshold for parallel listing.
    */
  private lazy val wideLake: Path =
    songLake(for (b <- "ABCDE"; c <- "ABCDEFGH") yield s"A/$b/$c")

  private def globbed(lake: String): DataFrame =
    spark.read.schema(graft.etl.SparkifySchemas.songSchema).json(s"$lake/song_data/*/*/*/*.json")

  test("readSongData lists exactly the files of the reference's 4-level glob") {
    Seq(fixture, wideLake.toString).foreach { lake =>
      assert(SparkifyEtl.readSongData(spark, lake).inputFiles.sorted.toSeq ==
        globbed(lake).inputFiles.sorted.toSeq, lake)
    }
    assert(SparkifyEtl.readSongData(spark, wideLake.toString).inputFiles.length == 40)
  }

  test("building the song relation starts no Spark job, where the glob's listing starts one") {
    val lake = wideLake.toString
    // self-check: the counter sees the glob's 40-path parallel listing job
    assert(SparkTestSession.jobsStartedBy(globbed(lake)) == 1)
    assert(SparkTestSession.jobsStartedBy(SparkifyEtl.readSongData(spark, lake)) == 0)
  }

  test("song files are read at any depth under song_data, *.json only") {
    val lake = songLake(Seq("A/A/A")) // holds one song: SOYOU1
    def plant(rel: String, songId: String): Unit = {
      val f = lake.resolve("song_data").resolve(rel)
      Files.createDirectories(f.getParent)
      Files.writeString(f, s"""{"song_id": "$songId", "title": "t", "artist_id": "AR1", "year": 2000}""")
    }
    plant("A/A/A/TRNOTES.txt", "SONOTJSON")
    plant("A/A/A/TRNOTES.json.bak", "SOBACKUP")
    plant("TRSHALLOW.json", "SOSHALLOW")
    plant("A/A/A/B/C/TRDEEP.json", "SODEEP")
    val ids = SparkifyEtl.readSongData(spark, lake.toString)
      .select("song_id").collect().map(_.getString(0)).toSet
    assert(ids == Set("SOYOU1", "SOSHALLOW", "SODEEP"))
  }

  /** The log-data glob the pipeline read before it listed the root. */
  private def globbedLogs(lake: String): DataFrame =
    spark.read.schema(graft.etl.SparkifySchemas.logSchema).json(s"$lake/log-data/*.json")

  /** Throwables logged by Spark's FileStreamSink (which probes every
    * non-streaming file read for a sink metadata dir) while `body` runs.
    */
  private def fileStreamSinkThrowables(body: => Unit): Seq[Throwable] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink").asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val capture = new AbstractAppender("capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = Option(e.getThrown).foreach(seen.add)
    }
    capture.start()
    val level = logger.getLevel
    logger.addAppender(capture)
    logger.setLevel(Level.WARN)
    try body finally {
      logger.removeAppender(capture)
      logger.setLevel(level)
      capture.stop()
    }
    seen.asScala.toSeq
  }

  test("readLogData lists exactly the files of the log-data glob") {
    assert(SparkifyEtl.readLogData(spark, fixture).inputFiles.sorted.toSeq ==
      globbedLogs(fixture).inputFiles.sorted.toSeq)
    assert(SparkifyEtl.readLogData(spark, fixture).inputFiles.length == 2)
  }

  test("building the log relation logs no FileNotFoundException, where the glob logs one") {
    def notFound(ts: Seq[Throwable]) = ts.count(_.isInstanceOf[java.io.FileNotFoundException])
    // self-check: the appender sees the glob's failed metadata-dir probe
    assert(notFound(fileStreamSinkThrowables(globbedLogs(fixture))) == 1)
    assert(fileStreamSinkThrowables(SparkifyEtl.readLogData(spark, fixture)).isEmpty)
  }

  test("F3: the string-route to_timestamp path equals the direct timestamp_seconds path") {
    import spark.implicits._
    val events = SparkifyEtl.songplayEvents(SparkifyEtl.readLogData(spark, fixture))
    val direct = SparkifyEtl.withEventTime(events).select($"ts", $"start_time")
    val viaString = SparkifyEtl.withEventTimeViaString(events).select($"ts", $"start_time")
    assert(direct.exceptAll(viaString).count() == 0)
    assert(viaString.exceptAll(direct).count() == 0)
  }

  test("case-insensitive column resolution (P6): col(\"useragent\") resolves userAgent like etl.py:187") {
    import org.apache.spark.sql.functions.col
    val events = SparkifyEtl.songplayEvents(SparkifyEtl.readLogData(spark, fixture))
    // the reference writes the wrong case and relies on spark.sql.caseSensitive=false
    val resolved = events.select(col("useragent"), col("USERID")).collect()
    assert(resolved.nonEmpty)
    assert(resolved.forall(r => Option(r.getString(0)).forall(_.contains("Mozilla"))))
  }

  test("golden: top songs (README.md:111–147 shape)") {
    val rows = SparkifyQueries.topSongs(table("songplays"), table("songs"), table("artists"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq(
      ("You're The One", "Dwight Yoakam", 7L),
      ("Hey Daddy (Daddy's Home)", "Usher", 2L)))
  }

  test("golden: top users (README.md:153–188 shape; level change merges to one row)") {
    val rows = SparkifyQueries.topUsers(table("songplays"), table("users"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq(
      ("49", "Chloe Cuevas", 6L),
      ("97", "Kate Harrell", 2L),
      ("80", "Tegan Levine", 2L)))
  }

  test("golden: top user id is 49 (README.md:194–227)") {
    val rows = SparkifyQueries.topUserId(table("songplays"), table("users")).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("49"))
  }

  test("golden: top sessions for user 49 (README.md:233–276 shape, unpadded dates)") {
    val rows = SparkifyQueries
      .topSessionsForUser(table("songplays"), table("users"), table("songs"), "49")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1041L, "2018-11-29", "Chloe Cuevas", 3L),
      (1079L, "2018-11-30", "Chloe Cuevas", 1L),
      (2001L, "2018-12-1", "Chloe Cuevas", 1L)))
  }

  test("S1/S2 inferred-schema parity: spark.read.json inference ≡ the explicit-schema read") {
    // The reference infers schemas on every read (etl.py:64/124); the
    // engine pins them (SparkifySchemas) to save the inference pass and
    // enable field pruning. That is the ONE reference behavior implemented
    // differently by design — this spec proves the divergence is
    // observation-free on the reference's own data shape: inference
    // chooses exactly the pinned types, and the rows are identical.
    import org.apache.spark.sql.functions.col
    // each source is listed from its root, as the pipeline lists it
    def parity(root: String, schema: org.apache.spark.sql.types.StructType): Unit = {
      def reader = spark.read.option("recursiveFileLookup", "true").option("pathGlobFilter", "*.json")
      val explicit = reader.schema(schema).json(root)
      val inferred = reader.json(root)
      // normalized schema equality: same field set, and same type per
      // field (inference orders fields alphabetically — order is the only
      // permitted difference, normalized by the select below)
      assert(
        inferred.schema.fields.map(f => f.name -> f.dataType).toMap ==
          explicit.schema.fields.map(f => f.name -> f.dataType).toMap,
        s"inference chose different types for $root")
      val aligned = inferred.select(schema.fieldNames.map(col): _*)
      assert(aligned.exceptAll(explicit).isEmpty && explicit.exceptAll(aligned).isEmpty,
        s"inferred and explicit reads disagree on rows for $root")
    }
    parity(s"$fixture/song_data", graft.etl.SparkifySchemas.songSchema)
    parity(s"$fixture/log-data", graft.etl.SparkifySchemas.logSchema)
  }
}
