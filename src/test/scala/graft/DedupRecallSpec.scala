package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.NativeKernels._
import graft.operators.{MmrSelect, TopKByScore}

/** Direct evidence for the dedup-recall claims and custom-aggregator laws
  * that the oracle hash-compare can only test indirectly.
  */
class DedupRecallSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("q20 MinHash-LSH finds EVERY pair the exact all-pairs Jaccard finds (recall = 1 here)") {
    import spark.implicits._
    // ground truth: brute-force exact Jaccard over all pairs
    val sh = Tables.documents(spark, sf)
      .select($"doc_id", wordShingles($"text", text.DedupQueries.ShingleK).as("sh"))
    val truth = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        jaccardSorted($"a.sh", $"b.sh").as("j"))
      .filter($"j" >= text.DedupQueries.JaccardThreshold)
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = text.DedupQueries.q20DedupMinhash(spark, sf)
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain near-dup pairs")
    assert(found == truth,
      s"missed=${(truth -- found).take(5)} extra=${(found -- truth).take(5)}")
  }

  test("q26 pigeonhole band law: 4×15-bit banding is exactness-mandated; recall = 1 EXACTLY") {
    import spark.implicits._
    import text.DedupQueries.{SimhashBands, SimhashBits, HammingThreshold}
    // STRUCTURAL constraint (VERDICT r16 #6 — the reason q26/q147 must
    // NOT be migrated onto the q19/q20/q230 scaled ladder): hamming ≤ t
    // differing bits can corrupt at most t of the B disjoint bands, so
    // t < B forces ≥1 band EQUAL — candidate recall at the threshold is
    // exactly 1 by pigeonhole, which is what licenses the exact
    // all-pairs oracle. Deepening the bands (fewer, wider) to throttle
    // candidates — the ladder's move — breaks t < B and with it the
    // exactness guarantee; the accepted consequence is that band
    // collisions grow ~n²·B/2^(bits/B) with corpus size, and the scale
    // lever here is the fingerprint WIDTH (more simhash bits per band
    // at the same B), never the band COUNT.
    assert(SimhashBands * (SimhashBits / SimhashBands) == SimhashBits,
      "bands must tile the fingerprint exactly")
    assert(HammingThreshold < SimhashBands,
      "pigeonhole needs threshold < band count — this inequality IS the recall-1 proof")
    // EMPIRICAL twin at the gate scale: the banded pipeline equals the
    // exact all-pairs hamming join, misses AND extras
    val fp = Tables.documents(spark, sf)
      .select($"doc_id", wordShingles($"text", text.DedupQueries.ShingleK).as("sh"))
      .select($"doc_id", simhash60($"sh").as("simhash"))
    val truth = fp.as("a").join(fp.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).as("h"))
      .filter($"h" <= HammingThreshold)
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = text.DedupQueries.q26DedupSimhash(spark, sf)
      .select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain simhash near-dup pairs")
    assert(found == truth,
      s"missed=${(truth -- found).take(5)} extra=${(found -- truth).take(5)}")
  }

  test("TopKByScore laws: reduce/merge give the same top-k as a full sort, any split") {
    val agg = TopKByScore(3)
    val data = Seq(5.0 -> 1L, 3.0 -> 2L, 5.0 -> 0L, 9.0 -> 7L, 1.0 -> 9L,
      9.0 -> 3L, 2.0 -> 4L, 7.0 -> 5L)
    val expected = data.sortBy(t => (-t._1, t._2)).take(3)
    // single reduce chain
    val all = data.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(all) == expected)
    // every 2-way split, merged in both orders
    for (i <- 0 to data.length) {
      val (l, r) = data.splitAt(i)
      val bl = l.foldLeft(agg.zero)(agg.reduce)
      val br = r.foldLeft(agg.zero)(agg.reduce)
      assert(agg.finish(agg.merge(bl, br)) == expected)
      assert(agg.finish(agg.merge(br, bl)) == expected)
    }
  }

  test("TopKByScore sorts NaN first, matching Spark/DuckDB ORDER BY score DESC") {
    // Spark's NaN semantics: NaN > any double, so `ORDER BY sim DESC` puts
    // NaN first. ADVICE r2: sortBy(-score) put NaN LAST — a zero-norm
    // vector (cos = 0/0 = NaN) would have silently diverged from the oracle.
    val agg = TopKByScore(2)
    val data = Seq(5.0 -> 1L, Double.NaN -> 2L, 7.0 -> 3L)
    val viaReduce = agg.finish(data.foldLeft(agg.zero)(agg.reduce))
    assert(viaReduce.map(_._2) == Seq(2L, 3L),
      s"NaN must rank above 7.0 (Spark DESC order); got $viaReduce")
    // merge path agrees
    val (l, r) = data.splitAt(1)
    val merged = agg.finish(agg.merge(
      l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce)))
    assert(merged == viaReduce)
    // and matches Spark's own sort of the same pairs
    import spark.implicits._
    val sparkOrder = data.toDF("score", "id")
      .orderBy(desc("score"), asc("id")).limit(2)
      .collect().map(_.getLong(1)).toSeq
    assert(viaReduce.map(_._2) == sparkOrder)
  }

  /** The greedy MMR rounds written with Spark's own `max` and
    * `ORDER BY … DESC, vec_id ASC` over in-memory candidates: the top-`pool`
    * by relevance, then one argmax per round — the reference [[MmrSelect]]
    * must reproduce, NaN included.
    */
  private def sparkMmr(cands: Seq[(Double, Long, Array[Float], Double)],
      pool: Int, picks: Int, lambda: Double): Seq[(Long, Double)] = {
    import spark.implicits._
    val c = cands.toDF("rel", "vec_id", "embedding", "nrm")
      .orderBy(desc("rel"), asc("vec_id")).limit(pool).localCheckpoint()
    val first = c.head()
    val n = math.min(picks.toLong, c.count())
    val out = scala.collection.mutable.ArrayBuffer(first.getLong(1) -> first.getDouble(0))
    while (out.size < n) {
      val chosen = out.map(_._1).toSeq
      val sel = c.filter($"vec_id".isin(chosen: _*))
        .select($"embedding".as("s_emb"), $"nrm".as("s_nrm"))
      val best = c.filter(!$"vec_id".isin(chosen: _*)).crossJoin(sel)
        .groupBy($"vec_id", $"rel")
        .agg(max(dotF($"embedding", $"s_emb") / ($"nrm" * $"s_nrm")).as("ms"))
        .select($"vec_id", (lit(lambda) * $"rel" - lit(1 - lambda) * $"ms").as("score"))
        .orderBy(desc("score"), asc("vec_id")).head()
      out += best.getLong(0) -> best.getDouble(1)
    }
    out.toSeq
  }

  // NaN-safe equality on (id, score) picks: doubleToLongBits maps every NaN to one value
  private def bits(xs: Seq[(Long, Double)]): Seq[(Long, Long)] =
    xs.map { case (id, sc) => id -> java.lang.Double.doubleToLongBits(sc) }

  private def cand(rel: Double, id: Long, emb: Float*): (Double, Long, Array[Float], Double) =
    (rel, id, emb.toArray, math.sqrt(emb.map(x => x.toDouble * x).sum))

  // two near-duplicate clusters plus singletons, with relevance ties
  private val mmrData = Seq(
    cand(0.9, 4, 1f, 0f, 0f), cand(0.9, 2, 1f, 0.01f, 0f), cand(0.8, 7, 0.99f, 0f, 0.1f),
    cand(0.7, 1, 0f, 1f, 0f), cand(0.7, 9, 0f, 0.98f, 0.05f), cand(0.6, 3, 0f, 0f, 1f),
    cand(0.5, 8, 0.5f, 0.5f, 0f), cand(0.4, 5, -1f, 0f, 0f), cand(0.3, 6, 0f, -1f, 0.2f))

  test("MmrSelect laws: any reduce/merge split gives the one-pass picks, which match Spark's rounds") {
    val agg = MmrSelect(pool = 6, picks = 4, lambda = 0.5)
    val onePass = agg.finish(mmrData.foldLeft(agg.zero)(agg.reduce))
    assert(onePass.size == 4 && onePass.head._1 == 2L, s"relevance tie goes to the smaller id: $onePass")
    assert(!Set(4L, 7L).contains(onePass(1)._1), s"pick 2 is a near-dup of pick 1: $onePass")
    assert(bits(onePass) == bits(sparkMmr(mmrData, 6, 4, 0.5)))
    for (order <- Seq(mmrData, mmrData.reverse); i <- 0 to order.length) {
      val (l, r) = order.splitAt(i)
      val bl = l.foldLeft(agg.zero)(agg.reduce)
      val br = r.foldLeft(agg.zero)(agg.reduce)
      assert(bl.size <= 6 && br.size <= 6, "a partial pool outgrew its bound")
      assert(bits(agg.finish(agg.merge(bl, br))) == bits(onePass), s"split at $i")
      assert(bits(agg.finish(agg.merge(br, bl))) == bits(onePass), s"split at $i, swapped")
    }
  }

  test("MmrSelect sorts a NaN relevance or similarity as Spark's ORDER BY DESC and max do") {
    // NaN relevance: first in the pool, so pick 1. A NaN element makes every
    // similarity with that vector NaN; Spark's max counts NaN as largest, so
    // the NaN scores then rank first and tie-break by vec_id.
    val nanRel = cand(0.2, 10, 0.3f, 0.3f, 0.3f).copy(_1 = Double.NaN)
    val nanEmb = cand(0.85, 11, Float.NaN, 1f, 0f)
    for (data <- Seq(mmrData :+ nanRel, mmrData :+ nanEmb, mmrData :+ nanRel :+ nanEmb)) {
      val agg = MmrSelect(pool = 8, picks = 5, lambda = 0.5)
      val viaReduce = agg.finish(data.foldLeft(agg.zero)(agg.reduce))
      val (l, r) = data.reverse.splitAt(4)
      val viaMerge = agg.finish(agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce)))
      val expected = sparkMmr(data, 8, 5, 0.5)
      assert(bits(viaReduce) == bits(expected), s"reduce: $viaReduce vs Spark $expected")
      assert(bits(viaMerge) == bits(expected), s"merge: $viaMerge vs Spark $expected")
    }
    val withNanRel = MmrSelect(8, 5, 0.5)
    assert(withNanRel.finish((mmrData :+ nanRel).foldLeft(withNanRel.zero)(withNanRel.reduce))
      .head._1 == 10L, "a NaN relevance must be pick 1 (NaN sorts first under DESC)")
  }

  test("MmrSelect with fewer candidates than picks emits them all, in greedy order") {
    val agg = MmrSelect(pool = 20, picks = 5, lambda = 0.5)
    for (n <- 1 to 4) {
      val data = mmrData.take(n)
      val got = agg.finish(data.foldLeft(agg.zero)(agg.reduce))
      assert(got.map(_._1).toSet == data.map(_._2).toSet, s"n=$n: $got")
      assert(bits(got) == bits(sparkMmr(data, 20, 5, 0.5)), s"n=$n greedy order")
    }
    assert(agg.finish(agg.zero).isEmpty)
  }

  test("kernel type checks reject wrong input types at analysis time") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("n", "s")
    val bad = Seq(
      () => df.select(dotF($"s", $"s")).collect(),
      () => df.select(wordShingles(array($"s"), 3)).collect(),
      () => df.select(jaccardSorted($"s", $"s")).collect(),
      () => df.select(simhash60($"n")).collect())
    bad.foreach { f =>
      val e = intercept[Exception](f())
      assert(e.getMessage.contains("expects") || e.getMessage.contains("DATATYPE_MISMATCH"),
        s"unexpected error: ${e.getMessage.take(200)}")
    }
    // an input Spark can implicit-cast to the declared type is cast, not
    // rejected: a bigint text is read as its decimal string
    assert(df.select(wordShingles($"n", 3)).head().getSeq[String](0) == Seq("1"))
  }
}
