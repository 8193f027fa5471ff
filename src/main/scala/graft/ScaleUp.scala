package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds the sf1-equivalent bench corpus: every sf0.1 table replicated
  * [[ScaleUp.Blocks]]× with all join/identity keys shifted per block, so
  * the result is a CONSISTENT 10× relational instance (foreign keys still
  * resolve, replicated rows join only within their own block), laid out
  * exactly like a driver sf dir — `Bench` runs against it unchanged via
  * `SPARK_GRAFT_SF_DIR`. This is the registry-wide growth measurement
  * VERDICT r11 (next #6) asks for: the 10× text and embedding stress runs
  * (SCALING.md "Measured stress") covered two pillars; this covers all of
  * them at once.
  *
  * Key shifts use one constant stride (block i adds `i · Shift` = i·10⁹
  * to every BIGINT key column — see [[ScaleUp.Shift]]'s sizing note), so
  * cross-table references stay aligned by construction. `region`/`nation` stay single-copy (the TPC-H scaling
  * rule: fixed-size dimensions), and nationkey references remain valid
  * because customers/suppliers keep their original nationkeys. Content
  * columns (text, embeddings, timestamps, prices) are NOT perturbed:
  * dedup/ANN tiers therefore see a corpus where every item has 10
  * near-exact replicas — heavier candidate sets than organic data, which
  * makes the measurement conservative for exactly the tiers where
  * growth-rate honesty matters. Probe/seed predicates (`vec_id < k`,
  * `vec_id % 100 = 0 AND vec_id < cap`) keep selecting only block-0 rows
  * (shifted ids exceed every cap), so probe-set sizes stay constant —
  * the input-size-independence those predicates are designed for.
  */
object ScaleUp {

  val Blocks = 10
  // Clears every source id range (max ~10⁶ at sf0.1) and every probe/seed
  // cap, while keeping shifted ids small enough that integer FINGERPRINT
  // arithmetic downstream stays in Long range — a 2⁴⁰ stride overflowed
  // q139's sum(pos·doc_id) under ANSI, an artifact organic sf1 ids
  // (~10⁶) would never hit.
  val Shift: Long = 1000000000L

  /** shifted BIGINT key columns per replicated table; every other column
    * passes through untouched (schemas stay byte-identical to the source)
    */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val copyOnly = Seq("region", "nation")

  def replicaDir(src: String): String =
    Scratch.path(s"sfx${Blocks}_${Scratch.tag(src)}")

  /** The JITTERED replica (VERDICT r14 #7): identical key-shifted blocks
    * except the `embeddings` replicas get a deterministic epsilon
    * perturbation per (vec_id, element, block) — replicated vectors are
    * NEAR-duplicates of their source (realistic organic structure)
    * instead of EXACT copies, so the LSH/banding tiers measure true
    * candidate growth rather than the ~100× same-bucket collision
    * artifact of 10 identical copies (SCALING.md's q19/q50/q134 caveat).
    * Block 0 stays untouched, so probe vectors are byte-identical.
    */
  def jitterDir(src: String): String =
    Scratch.path(s"sfx${Blocks}j_${Scratch.tag(src)}")

  /** The NOVEL-vector replica — the third point of the scaling triptych
    * (exact copies / ±0.005-absolute jitter / novel): replicated embedding blocks
    * get fully SYNTHETIC vectors (deterministic hash-derived uniform
    * floats, same dimensionality and scale as the source), so the 10×
    * corpus models ORGANIC growth — new content, not denser duplicates.
    * The LSH family's ratios on this replica measure the true
    * linear-growth regime; on the other two they measure the
    * near-dup-dense worst case (SCALING.md round 15).
    */
  def novelDir(src: String): String =
    Scratch.path(s"sfx${Blocks}n_${Scratch.tag(src)}")

  def build(s: SparkSession, src: String): String = buildImpl(s, src, "exact")

  def buildJittered(s: SparkSession, src: String): String = buildImpl(s, src, "jitter")

  def buildNovel(s: SparkSession, src: String): String = buildImpl(s, src, "novel")

  /** EMBEDDINGS-ONLY novel replica — the organic-scale recall fixture
    * (VERDICT r17 next #2): the exact 10× replica degenerates to recall
    * 1.0 (each probe's true top-5 sits in its own duplicate block), so
    * the deep IVF rungs (k=64, nprobe=8 at n=20,000) were extrapolated,
    * never measured. This builds just the one table the recall laws read
    * (seconds, not the full-corpus minutes), with the same novel-vector
    * recipe as [[buildNovel]] — block 0 = the organic sf0.1 corpus,
    * blocks 1–9 = deterministic synthetic vectors — so
    * VectorLawsSpec can measure recall at the k=64 rung in-suite.
    */
  def novelEmbDir(src: String): String =
    Scratch.path(s"sfx${Blocks}ne_${Scratch.tag(src)}")

  def buildNovelEmbeddings(s: SparkSession, src: String): String =
    Scratch.publishOnce(novelEmbDir(src)) { out =>
      replicateTable(s, src, "embeddings", keyCols("embeddings"), "novel")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

  private def outDir(src: String, mode: String): String = mode match {
    case "jitter" => jitterDir(src)
    case "novel" => novelDir(src)
    case _ => replicaDir(src)
  }

  private def buildImpl(s: SparkSession, src: String, mode: String): String =
    Scratch.publishOnce(outDir(src, mode)) { out =>
      copyOnly.foreach { t =>
        s.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      keyCols.foreach { case (t, keys) =>
        replicateTable(s, src, t, keys, mode)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    }

  /** One table's Blocks× key-shifted replication under `mode` — shared by
    * the full-corpus builds and the embeddings-only recall fixture so the
    * novel-vector recipe can never fork between them.
    */
  private def replicateTable(s: SparkSession, src: String, t: String,
      keys: Seq[String], mode: String): DataFrame = {
    // raw read (no canon casts): the replica must carry the SOURCE
    // dtypes so Tables' canonicalization sees the same inputs
    val raw = s.read.parquet(s"$src/$t.parquet")
    val blocks = s.range(Blocks).select((col("id") * Shift).as("_shift"))
    raw.crossJoin(broadcast(blocks))
      .select(raw.columns.map { c =>
        if (keys.contains(c)) (col(c) + col("_shift")).as(c)
        else if (mode == "jitter" && t == "embeddings" && c == "embedding")
          // ±0.005 ABSOLUTE deterministic element noise (≈0.5% of the
          // [-1,1] element range, NOT multiplicative), block 0 exact: the
          // hash is over (vec_id-pre-shift, element, block) so every
          // replica of a vector perturbs differently; FLOAT cast
          // keeps the source dtype
          expr("""transform(embedding, (x, j) ->
              |  CAST(x + CASE WHEN _shift = 0 THEN 0.0
              |    ELSE (pmod(hash(vec_id, j, _shift), 1001) - 500) / 100000.0
              |  END AS FLOAT))""".stripMargin).as(c)
        else if (mode == "novel" && t == "embeddings" && c == "embedding")
          // replicas become fully synthetic uniform[-1,1] vectors
          // (deterministic hash floats), block 0 the source corpus
          expr("""transform(embedding, (x, j) ->
              |  CAST(CASE WHEN _shift = 0 THEN x
              |    ELSE (pmod(hash(vec_id, j, _shift, 42), 2001) - 1000) / 1000.0
              |  END AS FLOAT))""".stripMargin).as(c)
        else col(c)
      }: _*)
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.build()
    spark.sparkContext.setLogLevel("WARN")
    val out = args.lift(1) match {
      case Some("jitter") => buildJittered(spark, src)
      case Some("novel") => buildNovel(spark, src)
      case _ => build(spark, src)
    }
    // row-count audit: every replicated table must hold exactly Blocks×
    // the source rows (a silent partial write would corrupt the scaling
    // measurement, not just a query)
    (keyCols.keys.toSeq.sorted).foreach { t =>
      val n0 = spark.read.parquet(s"$src/$t.parquet").count()
      val n1 = spark.read.parquet(s"$out/$t.parquet").count()
      require(n1 == Blocks * n0, s"$t: $n1 != $Blocks x $n0")
      println(s"[scaleup] $t: $n0 -> $n1")
    }
    println(s"[scaleup] replica ready: $out")
    spark.stop()
  }
}
