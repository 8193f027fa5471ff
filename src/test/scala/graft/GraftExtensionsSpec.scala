package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Drives every SQL function GraftExtensions registers through spark.sql
  * on the shared test session, and pins how that session is built: with
  * Session's fixed settings, by the one builder call under src/.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  // The shared test session comes from Session.build — the same builder,
  // and so the same extension wiring, as the Verify/Bench/PlanDump mains.
  lazy val spark: SparkSession = SparkTestSession.spark

  test("the shared test session carries Session's fixed settings") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    // GraftExtensions is wired in: its functions resolve through spark.sql
    assert(spark.sql("SELECT char_ngrams('abcd', 3) AS g").head().getSeq[String](0) == Seq("abc", "bcd"))
  }

  test("Session.scala holds the only session-builder call under src/") {
    // comments are dropped first, so scaladoc may still show the idiom
    def builderCalls(source: String): Boolean =
      """SparkSession\s*\.\s*builder\b""".r.findFirstIn(
        source.replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("//[^\n]*", "")).isDefined
    val call = "SparkSession" + ".builder()"
    assert(builderCalls(s"val s = $call.getOrCreate()"))
    assert(!builderCalls(s"/** use $call */ val x = 1 // or $call"))
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from ${sys.props("user.dir")}"))
    val offenders = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally files.close()
    }.filter(f => builderCalls(Files.readString(f))).map(_.toString)
    assert(offenders == Seq("src/main/scala/graft/Session.scala"))
  }

  test("kernels are callable from SQL") {
    val spark2 = spark
    val row = spark2.sql(
      """SELECT
        |  dot_f(array(cast(1.0 as float), cast(2.0 as float)),
        |        array(cast(3.0 as float), cast(4.0 as float))) AS d,
        |  word_shingles('a b c d', 3) AS ws,
        |  char_ngrams('abcd', 3) AS cg,
        |  jaccard_sorted(word_shingles('a b c', 2), word_shingles('a b c', 2)) AS j,
        |  jaccard_sorted_long(char_ngram_hashes('abcd', 3), char_ngram_hashes('abcd', 3)) AS jl,
        |  size(minhash_signature(word_shingles('a b c d', 3), 16)) AS mh,
        |  simhash60(array('alpha')) AS sh,
        |  rolling_fingerprints('the quick brown fox jumps over the lazy dog', 4, 8) AS rf,
        |  feature_hash_vector(word_shingles('a b c d', 3), 64) AS fv
        |""".stripMargin).collect()(0)
    assert(row.getAs[Double]("d") == 11.0)
    assert(row.getSeq[String](row.fieldIndex("ws")) == Seq("a b c", "b c d"))
    assert(row.getSeq[String](row.fieldIndex("cg")) == Seq("abc", "bcd"))
    assert(row.getAs[Double]("j") == 1.0)
    assert(row.getAs[Double]("jl") == 1.0)
    assert(row.getAs[Int]("mh") == 16)
    // simhash of a single shingle == its h60 (every bit votes for itself)
    val expected = spark2.sql(
      "SELECT cast(conv(substring(md5('alpha'), 1, 15), 16, 10) as bigint) AS h").collect()(0).getLong(0)
    assert(row.getAs[Long]("sh") == expected)
    // winnowing guarantees at least one fingerprint for any text >= k+w-1 chars
    assert(row.getSeq[Long](row.fieldIndex("rf")).nonEmpty)
    // two distinct shingles, each contributing ±1 to one of 64 dims
    val fv = row.getSeq[Float](row.fieldIndex("fv"))
    assert(fv.length == 64 && fv.map(math.abs).sum <= 2.0f && fv.exists(_ != 0.0f))
  }

  test("SQL form matches the DataFrame form on real data") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    Tables.documents(spark2, "/root/testdata/sf0.001").createOrReplaceTempView("docs_v")
    val viaSql = spark2.sql(
      "SELECT doc_id, simhash60(word_shingles(text, 3)) AS sh FROM docs_v ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaDf = Tables.documents(spark2, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        graft.expressions.NativeKernels.simhash60(
          graft.expressions.NativeKernels.wordShingles(col("text"), 3)).as("sh"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql == viaDf)
  }
}
