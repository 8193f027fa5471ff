package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference pipeline (etl.py:40–204) as a library of pure
  * `DataFrame => DataFrame` transforms plus thin IO wrappers — SURVEY.md §7
  * Phase 3, the literal capability-parity milestone (S1–S4, P1–P5, D1, J1,
  * W1, F1–F5).
  *
  * Differences from the reference, all deliberate and all documented:
  *  - No Python UDFs: the epoch-ms → timestamp conversion
  *    (etl.py:144–153) is `timestamp_seconds(floor(ts/1000))` — the same
  *    second-truncation semantics, but a codegen'd expression instead of a
  *    per-row Python round-trip (the reference's plans stall behind
  *    `BatchEvalPython`; ours keep one whole-stage-codegen span from scan
  *    to join).
  *  - Weekday is the *intended* capability (`date_format 'E'`): the
  *    reference's `date_format(col,'F')` (etl.py:163) is the
  *    aligned-day-of-week-in-month pattern — a bug, not a behavior worth
  *    replicating (SURVEY §7 "semantics-vs-bug calls").
  *  - `songplay_id` ordering gains `sessionId, itemInSession` tiebreakers:
  *    the reference orders only by (start_time DESC, user_id DESC)
  *    (etl.py:198–199), which makes ids nondeterministic across runs when
  *    one user plays twice in the same (truncated) second.
  *  - Writes take `.mode("overwrite")`; the reference relies on fresh
  *    output dirs and dies on rerun (default ErrorIfExists).
  *  - Song files are read at any depth under `song_data`, `*.json` only;
  *    the reference globs exactly four levels (etl.py:61–64). The glob
  *    expands to one path per leaf directory, and past 32 paths Spark
  *    re-lists them in a Spark job; one listed root runs none.
  *  - Log files likewise: every `*.json` under `log-data`, listed from
  *    that root. On a glob path Spark also looks for a streaming-sink
  *    metadata dir under the literal glob string, which fails and logs a
  *    `FileNotFoundException` stack trace on every read.
  *
  * Scale posture: every transform is declarative — filters and 5-column
  * projections reach the JSON/parquet scan; dropDuplicates is a partial+
  * final hash aggregate; the song-side of the songplays join broadcasts
  * under the planner threshold and degrades to sort-merge above it; writes
  * are hive-partitioned so downstream reads prune on (year, month).
  */
object SparkifyEtl {

  // ---- sources (S1, S2) -------------------------------------------------

  /** Song scan (etl.py:61–64), explicit schema: every `*.json` file at
    * any depth under `song_data`, listed from that one root on the driver.
    */
  def readSongData(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.schema(SparkifySchemas.songSchema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.json")
      .json(s"$inputDir/song_data")

  /** NDJSON log scan (etl.py:121–124), explicit schema: every `*.json`
    * file at any depth under `log-data`, listed from that one root.
    */
  def readLogData(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.schema(SparkifySchemas.logSchema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.json")
      .json(s"$inputDir/log-data")

  // ---- song-side transforms (etl.py:67–87) ------------------------------

  /** songs(song_id, title, artist_id, year, duration) — etl.py:67–71. */
  def songsTable(songData: DataFrame): DataFrame =
    songData
      .filter(col("song_id") =!= "")
      .select("song_id", "title", "artist_id", "year", "duration")
      .na.drop("any", Seq("song_id"))
      .dropDuplicates()

  /** artists(artist_id, name, location, latitude, longitude) — etl.py:79–87. */
  def artistsTable(songData: DataFrame): DataFrame =
    songData
      .filter(col("artist_id") =!= "")
      .select(
        col("artist_id"),
        col("artist_name").as("name"),
        col("artist_location").as("location"),
        col("artist_latitude").as("latitude"),
        col("artist_longitude").as("longitude"))
      .na.drop("any", Seq("artist_id"))
      .dropDuplicates()

  // ---- log-side transforms (etl.py:127–204) -----------------------------

  /** The load-bearing filter (etl.py:127, README.md:51). */
  def songplayEvents(logData: DataFrame): DataFrame =
    logData.where(col("page") === "NextSong")

  /** users(user_id, first_name, last_name, gender, level) — etl.py:130–138.
    * A user whose level changes mid-log yields two rows (reference quirk,
    * SURVEY §2.3 — the README queries depend on it via the compound join).
    */
  def usersTable(events: DataFrame): DataFrame =
    events
      .filter(col("userId") =!= "")
      .select(
        col("userId").as("user_id"),
        col("firstName").as("first_name"),
        col("lastName").as("last_name"),
        col("gender"),
        col("level"))
      .na.drop("any", Seq("user_id"))
      .dropDuplicates()

  /** Second-truncated event timestamp — the native replacement for the
    * reference's two identical Python UDFs (etl.py:144–153; F1/F2).
    */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("start_time", timestamp_seconds(floor(col("ts") / 1000)))

  /** The reference's literal conversion path (F2+F3): epoch ms → formatted
    * STRING → `to_timestamp` (etl.py:144–153 routes through
    * `'%Y-%m-%d %H:%M:%S'` text). Kept as the bug-compatible alternative;
    * SparkifyEtlSpec asserts it is row-identical to [[withEventTime]], so
    * the direct form is used everywhere else.
    */
  def withEventTimeViaString(events: DataFrame): DataFrame =
    events.withColumn("start_time",
      to_timestamp(
        date_format(timestamp_seconds(floor(col("ts") / 1000)), "yyyy-MM-dd HH:mm:ss"),
        "yyyy-MM-dd HH:mm:ss"))

  /** time(start_time, hour, day, week, month, year, weekday) —
    * etl.py:156–164. NOT deduplicated (reference quirk: start_time is the
    * diagram's PK but holds duplicates). Weekday uses 'E' (intended), not
    * the reference's buggy 'F'.
    */
  def timeTable(events: DataFrame): DataFrame =
    withEventTime(events).select(
      col("start_time"),
      hour(col("start_time")).as("hour"),
      dayofmonth(col("start_time")).as("day"),
      weekofyear(col("start_time")).as("week"),
      month(col("start_time")).as("month"),
      year(col("start_time")).as("year"),
      date_format(col("start_time"), "E").as("weekday"))

  /** songplays — etl.py:172–200: left-outer compound-key join against the
    * raw song data (unmatched plays keep null song/artist FKs), projection,
    * then the per-(year,month) row_number id.
    */
  def songplaysTable(events: DataFrame, songData: DataFrame): DataFrame = {
    val log = withEventTime(events)
    val joined = log.join(
      songData,
      log("song") === songData("title") && log("artist") === songData("artist_name"),
      "left_outer")
    val projected = joined.select(
      col("start_time"),
      col("userId").as("user_id"),
      log("level"),
      songData("song_id"),
      songData("artist_id"),
      col("sessionId").as("session_id"),
      log("location"),
      col("userAgent").as("user_agent"),
      year(col("start_time")).as("year"),
      month(col("start_time")).as("month"),
      col("sessionId"), col("itemInSession"))
    val w = Window.partitionBy("year", "month")
      .orderBy(col("start_time").desc, col("user_id").desc,
        col("sessionId").desc, col("itemInSession").desc)
    projected
      .withColumn("songplay_id", row_number().over(w))
      .select("songplay_id", "start_time", "user_id", "level", "song_id",
        "artist_id", "session_id", "location", "user_agent", "year", "month")
  }

  // ---- sinks (S3, S4) ---------------------------------------------------

  def writeSongs(songs: DataFrame, outputDir: String): Unit =
    songs.write.mode("overwrite")
      .partitionBy("year", "artist_id").parquet(s"$outputDir/songs")

  def writeArtists(artists: DataFrame, outputDir: String): Unit =
    artists.write.mode("overwrite").parquet(s"$outputDir/artists")

  def writeUsers(users: DataFrame, outputDir: String): Unit =
    users.write.mode("overwrite").parquet(s"$outputDir/users")

  def writeTime(time: DataFrame, outputDir: String): Unit =
    time.write.mode("overwrite")
      .partitionBy("year", "month").parquet(s"$outputDir/time")

  def writeSongplays(songplays: DataFrame, outputDir: String): Unit =
    songplays.write.mode("overwrite")
      .partitionBy("year", "month").parquet(s"$outputDir/songplays")

  // ---- entry points (etl.py:40/93/207) ----------------------------------

  /** Runs `body` over `df` cached and releases it after, also when `body`
    * throws: a relation left cached in a long-lived session would swallow
    * every later plan over the same files.
    */
  private def cached(df: DataFrame)(body: DataFrame => Unit): Unit = {
    df.cache()
    try body(df) finally df.unpersist()
  }

  private def writeSongTables(songData: DataFrame, outputDir: String): Unit = {
    writeSongs(songsTable(songData), outputDir)
    writeArtists(artistsTable(songData), outputDir)
  }

  /** The events feed three sinks, so they are cached while those run. */
  private def writeLogTables(spark: SparkSession, inputDir: String, songData: DataFrame,
      outputDir: String): Unit =
    cached(songplayEvents(readLogData(spark, inputDir))) { events =>
      writeUsers(usersTable(events), outputDir)
      writeTime(timeTable(events), outputDir)
      writeSongplays(songplaysTable(events, songData), outputDir)
    }

  def processSongData(spark: SparkSession, inputDir: String, outputDir: String): Unit =
    cached(readSongData(spark, inputDir))(writeSongTables(_, outputDir))

  /** Reads the songs once more for the songplays join, uncached: the join
    * is their only use here.
    */
  def processLogData(spark: SparkSession, inputDir: String, outputDir: String): Unit =
    writeLogTables(spark, inputDir, readSongData(spark, inputDir), outputDir)

  /** Both stages over one cached song relation: the reference re-reads the
    * raw JSON for the songplays join (etl.py:172); sharing it costs one
    * pass instead of two.
    */
  def runAll(spark: SparkSession, inputDir: String, outputDir: String): Unit =
    cached(readSongData(spark, inputDir)) { songData =>
      writeSongTables(songData, outputDir)
      writeLogTables(spark, inputDir, songData, outputDir)
    }
}
