package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.ColumnBridge
import graft.expressions.NativeKernels._

/** SparkSessionExtensions provider: registers the native kernels as SQL
  * functions, so `spark.sql` users get the same surface as the DataFrame
  * API (`SELECT minhash_signature(word_shingles(text, 3), 128) ...`).
  *
  * Wire-up ([[Session.build]] does the first):
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)            // in-process
  *   // or: .config("spark.sql.extensions", "graft.GraftExtensions")
  *
  * This is the supported public extension point (no registry internals
  * touched); GraftExtensionsSpec drives each function through spark.sql.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // declarative zip_with+aggregate dot products → native kernel
    ext.injectOptimizerRule(_ => graft.plans.AccelerateVectorOps)
    // whole-operator extension: native as-of join (plans.AsOfJoinPlan)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // each SQL function builds its kernel through the NativeKernels
    // function of the same name, the one declaration of that kernel
    def function(name: String, usage: String)(build: Seq[Expression] => Column): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name, s"$name$usage"),
        (args: Seq[Expression]) => ColumnBridge.expression(build(args))))
    val col = ColumnBridge.column _
    function("dot_f", "(a, b) - double dot product of two float arrays")(
      a => dotF(col(a(0)), col(a(1))))
    function("word_shingles", "(text, k) - sorted distinct word k-shingles")(
      a => wordShingles(col(a(0)), intLit(a(1), "k")))
    function("char_ngrams", "(text, n) - sorted distinct char n-grams")(
      a => charNgrams(col(a(0)), intLit(a(1), "n")))
    function("char_ngram_hashes", "(text, n) - sorted distinct xxhash64 of char n-grams")(
      a => charNgramHashes(col(a(0)), intLit(a(1), "n")))
    function("jaccard_sorted", "(a, b) - Jaccard of two sorted distinct string arrays")(
      a => jaccardSorted(col(a(0)), col(a(1))))
    function("jaccard_sorted_long", "(a, b) - Jaccard of two sorted distinct long arrays")(
      a => jaccardSorted(col(a(0)), col(a(1))))
    function("minhash_signature", "(shingles, k) - k-element MinHash signature")(
      a => minhashSignature(col(a(0)), intLit(a(1), "k")))
    function("simhash60", "(shingles) - 60-bit SimHash over distinct shingles")(
      a => simhash60(col(a(0))))
    function("feature_hash_vector", "(shingles, dims) - signed feature-hashed float vector")(
      a => featureHashVector(col(a(0)), intLit(a(1), "dims")))
    function("minhash_portable", "(shingles, k) - md5-derived (oracle-reproducible) MinHash signature")(
      a => minhashPortable(col(a(0)), intLit(a(1), "k")))
    function("random_project", "(vec, outDims) - signed +/-1 random projection to outDims")(
      a => randomProject(col(a(0)), intLit(a(1), "outDims")))
    function("fold_text", "(text) - NFC-normalized, accent-stripped, lowercased text")(
      a => foldText(col(a(0))))
    function("rolling_fingerprints", "(text, k, w) - winnowing fingerprint set")(
      a => rollingFingerprints(col(a(0)), intLit(a(1), "k"), intLit(a(2), "w")))
  }
}
