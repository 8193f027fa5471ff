package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Aggregator
import graft.expressions.KernelOps

/** Maximal Marginal Relevance (Carbonell & Goldstein '98) per group: of the
  * top-`pool` candidates by relevance, greedily pick `picks`, each step
  * maximizing `λ·rel − (1−λ)·max cosine to the candidates already picked`.
  *
  * Input rows are (rel, id, embedding, norm). The buffer is
  * [[TopKByScore]]'s bounded top-`pool` by (rel DESC with NaN first, id
  * ASC), each candidate carrying its embedding and norm, so this stays a
  * real partial aggregation: a map task ships at most `pool` candidates per
  * group whatever the corpus size, and the pool does not depend on merge
  * order.
  *
  * `finish` runs the greedy loop over the pool with the arithmetic of the
  * SQL formulation (window argmax + `max` per round), so a SQL replay of
  * the rounds lands on the same picks and scores bit for bit:
  *  - pick 1 is the pool's head, scored by its relevance;
  *  - similarity is `dotF(c, s) / (nrm_c * nrm_s)` with [[KernelOps.dotF]],
  *    the kernel behind the `dotF` column function;
  *  - the max similarity counts NaN as largest, as Spark's `max` does
  *    (`math.max` returns NaN when either side is);
  *  - the argmax is the first under [[TopKByScore.order]]: NaN scores
  *    first, ties to the smaller id.
  *
  * Output: (id, score) in pick order, `min(picks, candidates)` long.
  * Embeddings must be non-null and of one length (the kernel's null result
  * fails the aggregation).
  */
case class MmrSelect(pool: Int, picks: Int, lambda: Double)
    extends Aggregator[(Double, Long, Array[Float], Double), Seq[MmrSelect.Candidate],
      Seq[(Long, Double)]] {
  import MmrSelect.Candidate
  require(picks > 0 && pool >= picks, s"need 0 < picks <= pool: picks=$picks pool=$pool")

  override def zero: Seq[Candidate] = Vector.empty
  override def reduce(b: Seq[Candidate], a: (Double, Long, Array[Float], Double)): Seq[Candidate] =
    TopKByScore.insert(b, Candidate(a._1, a._2, a._3, a._4), pool)(_.key)
  override def merge(b1: Seq[Candidate], b2: Seq[Candidate]): Seq[Candidate] =
    TopKByScore.trim(b1 ++ b2, pool)(_.key)

  override def finish(r: Seq[Candidate]): Seq[(Long, Double)] = {
    val c = r.toIndexedSeq // sorted by key: the head is pick 1
    val n = math.min(picks, c.size)
    if (n == 0) return Vector.empty
    val emb = c.map(x => UnsafeArrayData.fromPrimitiveArray(x.embedding))
    val picked = Array.fill(c.size)(false)
    val ms = Array.fill(c.size)(Double.NegativeInfinity) // max similarity to the picks so far
    val out = Vector.newBuilder[(Long, Double)]
    var last = 0
    picked(0) = true
    out += c(0).id -> c(0).rel
    for (_ <- 1 until n) {
      var best: (Double, Long) = null
      var bestAt = -1
      for (i <- c.indices if !picked(i)) {
        val dot = KernelOps.dotF(emb(i), emb(last))
        require(dot != null, s"MmrSelect: embeddings of ${c(i).id} and ${c(last).id} " +
          "must be non-null and of one length")
        ms(i) = math.max(ms(i), dot / (c(i).nrm * c(last).nrm))
        val key = (lambda * c(i).rel - (1 - lambda) * ms(i), c(i).id)
        if (best == null || TopKByScore.order.lt(key, best)) { best = key; bestAt = i }
      }
      picked(bestAt) = true
      last = bestAt
      out += best._2 -> best._1
    }
    out.result()
  }

  override def bufferEncoder: Encoder[Seq[Candidate]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(Long, Double)]] = ExpressionEncoder()
}

object MmrSelect {
  case class Candidate(rel: Double, id: Long, embedding: Array[Float], nrm: Double) {
    def key: (Double, Long) = (rel, id)
  }
}
