package graft.operators

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.Encoder

/** Bounded top-k aggregator over (score, id) pairs: keeps the k largest by
  * (score DESC, id ASC) with a k-capped buffer.
  *
  * Why not a window: `row_number().over(partitionBy(group))` shuffles every
  * candidate row to the group's partition before ranking — at 100 TB a kNN
  * over n vectors ships n rows per probe. This aggregator is a real partial
  * aggregation: each map task reduces its slice to ≤ k pairs, so the shuffle
  * carries k rows per partition per group, independent of n.
  *
  * Selection of the k largest under a total order is associative and
  * commutative, so merge order cannot change the result — the output is
  * deterministic even though partial-aggregation order is not.
  *
  * (SURVEY.md §2.11 policy: custom `Aggregator` only where no built-in
  * exists; Spark has no partial top-k primitive.)
  */
case class TopKByScore(k: Int)
    extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
  require(k > 0)

  override def zero: Seq[(Double, Long)] = Vector.empty
  override def reduce(b: Seq[(Double, Long)], a: (Double, Long)): Seq[(Double, Long)] =
    TopKByScore.insert(b, a, k)(identity)
  override def merge(b1: Seq[(Double, Long)], b2: Seq[(Double, Long)]): Seq[(Double, Long)] =
    TopKByScore.trim(b1 ++ b2, k)(identity)
  override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] = ExpressionEncoder()
}

/** The bounded-buffer steps, shared with [[MmrSelect]]'s candidate pool so
  * the tie and NaN order is defined once.
  */
object TopKByScore {

  /** Largest score first; ties broken by smaller id — a total order, so the
    * k-subset (and its order) is unique. java.lang.Double.compare treats NaN
    * as larger than +Inf, matching Spark's and DuckDB's `ORDER BY score DESC`
    * (NaN sorts first) — sortBy(-score) would have sorted NaN LAST, silently
    * diverging from the oracle on a NaN score (ADVICE r2).
    */
  val order: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  /** The k first of `xs` under [[order]] of `key`. */
  private[operators] def trim[T](xs: Seq[T], k: Int)(key: T => (Double, Long)): Seq[T] =
    xs.sortBy(key)(order).take(k)

  /** `buf` (already trimmed) with `x` added, trimmed back to k. Primitive
    * `>` is false when either side is NaN, so a NaN score always falls
    * through to trim, where [[order]] places it.
    */
  private[operators] def insert[T](buf: Seq[T], x: T, k: Int)(key: T => (Double, Long)): Seq[T] =
    if (buf.size == k && key(buf.last)._1 > key(x)._1) buf else trim(buf :+ x, k)(key)
}
