package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions._

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
    ext.injectFunction((FunctionIdentifier("dot_f"),
      info("dot_f", "dot_f(a, b) - double dot product of two float arrays"),
      (args: Seq[Expression]) => DotProductFloat(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(text, k) - sorted distinct word k-shingles"),
      (args: Seq[Expression]) => WordShingles(args(0), intLit(args(1), "k"))))
    ext.injectFunction((FunctionIdentifier("char_ngrams"),
      info("char_ngrams", "char_ngrams(text, n) - sorted distinct char n-grams"),
      (args: Seq[Expression]) => CharNgrams(args(0), intLit(args(1), "n"))))
    ext.injectFunction((FunctionIdentifier("char_ngram_hashes"),
      info("char_ngram_hashes", "char_ngram_hashes(text, n) - sorted distinct xxhash64 of char n-grams"),
      (args: Seq[Expression]) => CharNgramHashes(args(0), intLit(args(1), "n"))))
    ext.injectFunction((FunctionIdentifier("jaccard_sorted"),
      info("jaccard_sorted", "jaccard_sorted(a, b) - Jaccard of two sorted distinct string arrays"),
      (args: Seq[Expression]) => JaccardSorted(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("jaccard_sorted_long"),
      info("jaccard_sorted_long", "jaccard_sorted_long(a, b) - Jaccard of two sorted distinct long arrays"),
      (args: Seq[Expression]) => JaccardSortedLong(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "minhash_signature(shingles, k) - k-element MinHash signature"),
      (args: Seq[Expression]) => MinHashSignature(args(0), intLit(args(1), "k"))))
    ext.injectFunction((FunctionIdentifier("simhash60"),
      info("simhash60", "simhash60(shingles) - 60-bit SimHash over distinct shingles"),
      (args: Seq[Expression]) => SimHash60(args(0))))
    ext.injectFunction((FunctionIdentifier("feature_hash_vector"),
      info("feature_hash_vector", "feature_hash_vector(shingles, dims) - signed feature-hashed float vector"),
      (args: Seq[Expression]) => FeatureHashVector(args(0), intLit(args(1), "dims"))))
    ext.injectFunction((FunctionIdentifier("minhash_portable"),
      info("minhash_portable", "minhash_portable(shingles, k) - md5-derived (oracle-reproducible) MinHash signature"),
      (args: Seq[Expression]) => MinHashPortable(args(0), intLit(args(1), "k"))))
    ext.injectFunction((FunctionIdentifier("random_project"),
      info("random_project", "random_project(vec, outDims) - signed +/-1 random projection to outDims"),
      (args: Seq[Expression]) => RandomProjection(args(0), intLit(args(1), "outDims"))))
    ext.injectFunction((FunctionIdentifier("fold_text"),
      info("fold_text", "fold_text(text) - NFC-normalized, accent-stripped, lowercased text"),
      (args: Seq[Expression]) => FoldText(args(0))))
    ext.injectFunction((FunctionIdentifier("rolling_fingerprints"),
      info("rolling_fingerprints", "rolling_fingerprints(text, k, w) - winnowing fingerprint set"),
      (args: Seq[Expression]) =>
        RollingFingerprints(args(0), intLit(args(1), "k"), intLit(args(2), "w"))))
  }
}
