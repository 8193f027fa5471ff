package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.NativeKernels._
import graft.functions.{TextFunctions, VectorFunctions}

/** The native kernels (graft.expressions) each replace an equivalent
  * composition of Spark built-ins that evaluates interpreted. The built-in
  * form is the executable specification; these tests assert kernel ≡ spec
  * on the real documents/embeddings testdata, so a kernel change that
  * drifts from the declarative semantics fails here before it can reach an
  * oracle mismatch.
  */
class NativeKernelsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("bloom: one filter at both sizes, its bytes pinned; a size that is not a power of two is refused") {
    import graft.expressions.KernelOps
    // committed graft-fwb footers hold these bytes, so the hashing must
    // never drift; the md5s were taken from the two filters this one
    // replaced (the 32 KiB footer bloom and q228's 64 KiB bloom)
    var x = 42L
    val keys = Array.fill(20000) { x = x * 6364136223846793005L + 1442695040888963407L; x }
    def md5(b: Array[Byte]) =
      java.security.MessageDigest.getInstance("MD5").digest(b).map(v => f"$v%02x").mkString
    val footer = new Array[Byte](sources.FwbFormat.BloomBytes)
    val q228 = new Array[Byte](KernelOps.BloomBytes)
    keys.foreach { k => KernelOps.bloomInsert(footer, k); KernelOps.bloomInsert(q228, k) }
    assert((footer.length, md5(footer)) == ((32768, "3c9c9107eaae190cfb47cc6ec4a9718b")))
    assert((q228.length, md5(q228)) == ((65536, "3e427730099f7a5a2a6224528e557322")))
    assert(keys.forall(k => KernelOps.bloomMightContain(footer, k)))
    intercept[IllegalArgumentException](KernelOps.bloomInsert(new Array[Byte](3000), 1L))
    intercept[IllegalArgumentException](KernelOps.bloomMightContain(Array.emptyByteArray, 1L))
  }

  test("bloom kernel: zero false negatives, bounded false positives, merge = union, codegen path") {
    import graft.expressions.KernelOps
    // deterministic key streams (an LCG — no Random, reproducible)
    def keys(seed: Long, n: Int): Array[Long] = {
      var x = seed
      Array.fill(n) { x = x * 6364136223846793005L + 1442695040888963407L; x }
    }
    val present = keys(7L, 32768)
    val absent = keys(99L, 32768)
    val bits = new Array[Byte](KernelOps.BloomBytes)
    present.foreach(KernelOps.bloomInsert(bits, _))
    // the bloom contract: NO false negatives, ever
    assert(present.forall(KernelOps.bloomMightContain(bits, _)),
      "bloom dropped an inserted key (false negative)")
    // sizing claim: ~1.2% fpp at 64k keys → at 32k keys well under 1%;
    // bound loosely at 3% so the law survives unlucky seeds
    // Set probe, not Array.contains: the linear scan was ~1e9 long
    // comparisons per run (32k absent × 32k present) — ADVICE r15
    val presentSet = present.toSet
    val fpp = absent.count(k => !presentSet.contains(k) &&
      KernelOps.bloomMightContain(bits, k)).toDouble / absent.length
    info(f"measured fpp at n=32768: $fpp%.4f")
    assert(fpp < 0.03, f"false-positive rate $fpp%.4f exceeds the sizing claim")
    // merge = union: OR of two blooms answers like one built from both
    val (h1, h2) = present.splitAt(16384)
    val a = new Array[Byte](KernelOps.BloomBytes)
    val b = new Array[Byte](KernelOps.BloomBytes)
    h1.foreach(KernelOps.bloomInsert(a, _))
    h2.foreach(KernelOps.bloomInsert(b, _))
    val merged = graft.operators.BloomBuild.merge(a, b)
    assert(merged.sameElements(bits), "merge(a, b) != insert-all (union law)")
    // the Column surface under codegen: aggregate + probe end-to-end
    import spark.implicits._
    val bloomOf = udaf(graft.operators.BloomBuild)
    val bloomDf = present.take(100).toSeq.toDF("k")
      .agg(bloomOf($"k").as("bloom"))
    val probed = present.take(100).toSeq.toDF("k")
      .join(broadcast(bloomDf))
      .select(bloomMightContain($"bloom", $"k").as("hit"))
      .collect()
    assert(probed.forall(_.getBoolean(0)), "codegen probe missed an inserted key")
  }

  test("wordShingles == sorted distinct of TextFunctions.shingles∘tokens") {
    import spark.implicits._
    val bad = Tables.documents(spark, sf)
      .select(
        wordShingles($"text", 3).as("native"),
        array_sort(array_distinct(TextFunctions.shingles(TextFunctions.tokens($"text"), 3))).as("spec"))
      .filter(not($"native" <=> $"spec"))
      .count()
    assert(bad == 0)
  }

  test("wordShingles degenerate cases: fewer tokens than k, empty tokens kept") {
    import spark.implicits._
    val df = Seq("one two", "a", "", "x  y").toDF("text") // double space → empty token
    val bad = df.select(
        wordShingles($"text", 3).as("native"),
        array_sort(array_distinct(TextFunctions.shingles(TextFunctions.tokens($"text"), 3))).as("spec"))
      .filter(not($"native" <=> $"spec")).count()
    assert(bad == 0)
  }

  test("wordGrams == shingles∘tokens multiset, order and duplicates kept (round-20 optimization)") {
    import spark.implicits._
    // the MULTISET twin of wordShingles: q89/q141's LM statistics count
    // gram multiplicity, so the law is exact array equality (order AND
    // duplicates), not set equality — corpus plus the degenerate shapes
    // (< k tokens → whole text, empty string, empty-token runs, multibyte)
    val corpusBad = Tables.documents(spark, sf)
      .select(
        wordGrams($"text", 2).as("native"),
        TextFunctions.shingles(TextFunctions.tokens($"text"), 2).as("spec"))
      .filter(not($"native" <=> $"spec"))
      .count()
    assert(corpusBad == 0)
    val edges = Seq("one two", "a", "", "x  y", " lead", "trail ", "  ",
      "dup dup dup", "héllo wörld ünïcode", "日本 語 の テスト").toDF("text")
    for (k <- Seq(2, 3, 5)) {
      val bad = edges.select(
          wordGrams($"text", k).as("native"),
          TextFunctions.shingles(TextFunctions.tokens($"text"), k).as("spec"))
        .filter(not($"native" <=> $"spec")).count()
      assert(bad == 0, s"wordGrams k=$k diverges from the shingles recipe")
    }
  }

  test("kernels agree with their specs on multibyte UTF-8 text (the 0x20-split claim)") {
    import spark.implicits._
    // splitOnSpace splits on the 0x20 BYTE (can't occur inside a multibyte
    // sequence); charNgrams indexes CODEPOINTS — both must match the
    // declarative spec on non-ASCII input, not just the ASCII corpus
    val df = Seq("héllo wörld ünïcode tæst", "日本 語 の テスト です",
      "emoji 🎉 in 🎈 tokens", "ASCII only here").toDF("text")
    val bad = df.select(
        wordShingles($"text", 2).as("n_sh"),
        array_sort(array_distinct(TextFunctions.shingles(TextFunctions.tokens($"text"), 2))).as("s_sh"),
        charNgrams(lower($"text"), 3).as("n_ng"),
        array_sort(array_distinct(expr(
          "transform(sequence(1, greatest(length(lower(text))-2, 1)), i -> substr(lower(text), i, 3))"))).as("s_ng"))
      .filter(not($"n_sh" <=> $"s_sh") || not($"n_ng" <=> $"s_ng"))
      .count()
    assert(bad == 0)
  }

  test("charNgrams == sorted distinct of the transform/substr composition") {
    import spark.implicits._
    val spec = array_sort(array_distinct(expr(
      "transform(sequence(1, greatest(length(lower(text))-2, 1)), i -> substr(lower(text), i, 3))")))
    val bad = Tables.documents(spark, sf)
      .select(charNgrams(lower($"text"), 3).as("native"), spec.as("spec"))
      .filter(not($"native" <=> $"spec")).count()
    assert(bad == 0)
  }

  test("bpePairs == the split+transform adjacency recipe, incl. degenerate states (round-19 optimization)") {
    import spark.implicits._
    val sep = ""
    // real trainer states: delimited multibyte words, plus the degenerate
    // single-symbol and merged-run shapes the loop actually produces
    val words = Seq("ab", "héllo", "日本語", "x", "aaaa", "ßẞ")
      .map(w => w.toCharArray.map(ch => s"$sep$ch$sep").mkString)
    // also post-merge shapes: multi-codepoint symbols between sentinels
    val states = words ++ Seq(s"${sep}he$sep${sep}llo$sep", s"${sep}日本$sep${sep}語$sep", s"${sep}xyz$sep")
    val df = states.toDF("seq")
    // the RETIRED trainer expression, verbatim — the executable spec
    val spec = df
      .withColumn("a", expr(s"split(substring(seq, 2, length(seq) - 2), '$sep$sep')"))
      .select($"seq", expr(
        """if(size(a) < 2, array(),
          |  transform(sequence(1, size(a) - 1),
          |    j -> named_struct('l', element_at(a, j), 'r', element_at(a, j + 1))))""".stripMargin).as("want"))
    val got = df.select($"seq", graft.expressions.NativeKernels.bpePairs($"seq", sep.charAt(0)).as("got"))
    val joined = spec.join(got, "seq")
      .select($"seq", $"want".cast("string").as("w"), $"got".cast("string").as("g"))
      .collect()
    joined.foreach(r => assert(r.getString(1) == r.getString(2), s"state ${r.getString(0)}"))
    // and the sentinel-count symbol total == size(split(...)) on the same states
    val counts = df.select(
      expr(s"size(split(substring(seq, 2, length(seq) - 2), '$sep$sep'))").as("w"),
      expr(s"length(seq) - length(replace(seq, '$sep$sep', '$sep')) + 1").as("g")).collect()
    counts.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("sortedPairs == the i<j transform/flatten recipe, incl. degenerate arrays (round-20 optimization)") {
    import spark.implicits._
    // real basket shapes: empty, singleton, pair, a long sorted run, and
    // the sorted distinct arrays the q165/q170 callers actually produce
    val arrays = Seq(
      Seq.empty[Long], Seq(7L), Seq(1L, 2L), Seq(3L, 9L, 12L, 40L),
      (1L to 64L).toSeq, Seq(-5L, 0L, 5L))
    val df = arrays.map(Tuple1(_)).toDF("parts")
    // the RETIRED pair recipe, verbatim: self-pairing with a < b
    val spec = df.select($"parts", expr(
      """flatten(transform(parts, (x, i) ->
        |  transform(slice(parts, i + 2, size(parts)), y ->
        |    named_struct('a', x, 'b', y))))""".stripMargin).as("want"))
    val got = df.select($"parts",
      graft.expressions.NativeKernels.sortedPairs($"parts").as("got"))
    val joined = spec.join(got, "parts")
      .select($"want".cast("string").as("w"), $"got".cast("string").as("g"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("dotF == VectorFunctions.dot (zip_with+aggregate spec) on embeddings") {
    import spark.implicits._
    val bad = Tables.embeddings(spark, sf)
      .select(
        dotF($"embedding", $"embedding").as("native"),
        VectorFunctions.dot($"embedding", $"embedding").as("spec"),
        sqrt(dotF($"embedding", $"embedding")).as("native_norm"),
        VectorFunctions.norm($"embedding").as("spec_norm"))
      .filter(abs($"native" - $"spec") > 1e-12 ||
        abs($"native_norm" - $"spec_norm") > 1e-12)
      .count()
    assert(bad == 0)
  }

  test("jaccardSorted == size(intersect)/size(union) on shingle sets") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select($"doc_id", wordShingles($"text", 3).as("sh"))
    val pairs = docs.as("a").join(docs.as("b"), $"a.doc_id" % 17 === $"b.doc_id" % 17 && $"a.doc_id" < $"b.doc_id")
      .select(
        jaccardSorted($"a.sh", $"b.sh").as("native"),
        (size(array_intersect($"a.sh", $"b.sh")).cast("double") /
          size(array_union($"a.sh", $"b.sh"))).as("spec"))
    assert(pairs.filter(abs($"native" - $"spec") > 1e-15).count() == 0)
    assert(pairs.count() > 0)
  }

  test("charNgramHashes Jaccard == charNgrams Jaccard (hash representation is lossless here)") {
    import spark.implicits._
    val g = Tables.documents(spark, sf).select($"doc_id",
      charNgrams(lower($"text"), 3).as("grams"),
      charNgramHashes(lower($"text"), 3).as("hashes"))
    val pairs = g.as("a").join(g.as("b"), $"a.doc_id" % 13 === $"b.doc_id" % 13 && $"a.doc_id" < $"b.doc_id")
      .select(
        jaccardSorted($"a.grams", $"b.grams").as("s"),
        jaccardSorted($"a.hashes", $"b.hashes").as("h"))
    assert(pairs.filter($"s" =!= $"h").count() == 0)
    assert(pairs.count() > 0)
  }

  test("simhash60 h60 matches conv(substring(md5(s),1,15),16,10)") {
    import spark.implicits._
    // single-shingle doc: simhash == h60 of that shingle (every vote is the bit itself)
    val df = Seq("alpha", "beta gamma", "zzz").toDF("s")
    val bad = df.select(
        simhash60(array($"s")).as("native"),
        conv(substring(md5($"s"), 1, 15), 16, 10).cast("long").as("spec"))
      .filter($"native" =!= $"spec").count()
    assert(bad == 0)
  }

  test("winnowing theorem: texts sharing a substring of length >= k+w-1 share a fingerprint") {
    import spark.implicits._
    // k=4, w=8 → guarantee window 11 chars; plant a 16-char shared run to be safe
    val shared = "zqxjkvwpyzqxjkvw"
    val pairs = (0 until 10).map { i =>
      (s"prefix$i$i$i $shared tail$i", s"other${i * 7} $shared end${i * 3}")
    }
    val bad = pairs.toDF("a", "b").select(
        expressions.NativeKernels.rollingFingerprints($"a", 4, 8).as("fa"),
        expressions.NativeKernels.rollingFingerprints($"b", 4, 8).as("fb"))
      .filter(size(array_intersect($"fa", $"fb")) === 0)
      .count()
    assert(bad == 0)
  }

  test("rolling fingerprints: substring-position invariance of selected window hashes") {
    import spark.implicits._
    // the same text yields the same fingerprint set regardless of what
    // precedes it IF separated far enough — check via doubled corpus docs
    val df = Tables.documents(spark, sf).limit(20)
      .select(expressions.NativeKernels.rollingFingerprints($"text", 4, 8).as("f1"),
        expressions.NativeKernels.rollingFingerprints(concat($"text", lit("")), 4, 8).as("f2"))
      .filter(not($"f1" <=> $"f2"))
    assert(df.count() == 0)
  }

  test("featureHashVector == explode + conv(md5) signed-bucket spec") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).limit(50)
      .select($"doc_id", wordShingles($"text", 3).as("sh"))
    val kernel = docs
      .select($"doc_id", posexplode(featureHashVector($"sh", 64)))
      .select($"doc_id", $"pos".cast("int").as("dim"), $"col".cast("double").as("kv"))
    // the spec path: the same h60 via built-ins, per-dim signed sums
    val spec = docs.select($"doc_id", explode($"sh").as("s"))
      .select($"doc_id", conv(substring(md5($"s"), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy($"doc_id", ($"h" % 64).cast("int").as("dim"))
      .agg(sum(when(shiftright($"h", 59).bitwiseAND(lit(1L)) === 1, 1.0).otherwise(-1.0)).as("sv"))
    val bad = kernel.join(spec, Seq("doc_id", "dim"), "left")
      .filter(abs($"kv" - coalesce($"sv", lit(0.0))) > 1e-9)
      .count()
    assert(bad == 0)
    // and dims absent from the spec must be zero in the kernel vector
    val nonzero = kernel.filter($"kv" =!= 0.0).count()
    val specDims = spec.filter($"sv" =!= 0.0).count()
    assert(nonzero == specDims)
  }

  test("array kernels are null-element safe (ADVICE r2): dotF → NULL, set kernels skip") {
    import spark.implicits._
    val df = spark.sql(
      """SELECT
        |  array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT), CAST(2.0 AS FLOAT)) AS fa,
        |  array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT)) AS fb,
        |  array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS fshort,
        |  array('a', NULL, 'b') AS sa,
        |  array('a', 'b') AS sb""".stripMargin)
    val r = df.select(
      dotF($"fa", $"fb").as("withNull"),        // null element → NULL
      dotF($"fb", $"fshort").as("mismatch"),    // length mismatch → NULL
      jaccardSorted($"sa", $"sb").as("jac"),    // null element absent from set
      simhash60($"sa").as("sh"), simhash60($"sb").as("sh2"),
      minhashSignature($"sa", 8).as("mh"), minhashSignature($"sb", 8).as("mh2"),
      featureHashVector($"sa", 16).as("fh"), featureHashVector($"sb", 16).as("fh2"))
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getDouble(2) == 1.0) // {a,b} vs {a,b}
    assert(r.get(3) == r.get(4))
    assert(r.getSeq[Long](5) == r.getSeq[Long](6))
    assert(r.getSeq[Float](7) == r.getSeq[Float](8))
  }

  test("jaccard fast (containsNull=false) and safe (true) loops agree on null-free data") {
    import spark.implicits._
    // a transform identity types its output containsNull=true (lambda
    // results are nullable) without touching values or order — so the
    // static mayNull flag flips to the safe loop while the data stays
    // null-free, and both dispatch paths must agree on every corpus pair.
    // (A cast to array<...> would NOT work: SimplifyCasts elides
    // non-nullable→nullable element casts.)
    val g = Tables.documents(spark, sf).select($"doc_id",
      charNgramHashes(lower($"text"), 3).as("h"),
      charNgrams(lower($"text"), 3).as("g"))
    val pairs = g.as("a").join(g.as("b"),
        $"a.doc_id" % 19 === $"b.doc_id" % 19 && $"a.doc_id" < $"b.doc_id")
      .select(
        jaccardSorted($"a.h", $"b.h").as("fast_l"),
        jaccardSorted(transform($"a.h", x => x), transform($"b.h", x => x)).as("safe_l"),
        jaccardSorted($"a.g", $"b.g").as("fast_s"),
        jaccardSorted(transform($"a.g", x => x), transform($"b.g", x => x)).as("safe_s"))
    assert(pairs.filter($"fast_l" =!= $"safe_l" || $"fast_s" =!= $"safe_s").count() == 0)
    assert(pairs.count() > 0)
  }

  test("minhashSignature is permutation- and duplicate-invariant") {
    import spark.implicits._
    val df = Seq(
      (Seq("a", "b", "c"), Seq("c", "a", "b", "a")),
      (Seq("x y", "z"), Seq("z", "x y", "z"))
    ).toDF("s1", "s2")
    val bad = df.select(
        minhashSignature($"s1", 32).as("m1"),
        minhashSignature($"s2", 32).as("m2"))
      .filter(not($"m1" <=> $"m2")).count()
    assert(bad == 0)
  }

  test("foldText strips accents, lowercases, and keeps non-marked letters") {
    import spark.implicits._
    val got = Seq("Àé Îõ ÜÇ Ñ ß Hello WORLD", "", "café CAFÉ café")
      .toDF("t").select(foldText($"t")).as[String].collect()
    // expected values independently produced by DuckDB's
    // lower(strip_accents(nfc_normalize(...)))
    assert(got(0) == "ae io uc n ß hello world")
    assert(got(1) == "")
    assert(got(2) == "cafe cafe cafe") // composed AND decomposed é both fold
  }

  test("foldText propagates null and registers as SQL fold_text") {
    import spark.implicits._
    val viaSql = spark.sql("SELECT fold_text('Ärger') AS f").as[String].head()
    assert(viaSql == "arger")
    val out = Seq[(Integer, String)]((1, null)).toDF("id", "t")
      .select(foldText($"t").as("f")).collect()
    assert(out.head.isNullAt(0)) // null in → null out, no crash
  }

  test("randomProject: linearity, determinism, null propagation, SQL registration") {
    import spark.implicits._
    val df = Tables.embeddings(spark, sf).limit(50).cache()
    // deterministic: two evaluations agree exactly
    val a = df.select($"vec_id", randomProject($"embedding", 16).as("p")).collect()
    val b = df.select($"vec_id", randomProject($"embedding", 16).as("p")).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // linearity: P(2x) == 2*P(x) exactly (both double ops on exact inputs)
    val lin = df.select(
        randomProject(transform($"embedding", x => x * 2.0f), 16).as("p2"),
        transform(randomProject($"embedding", 16), x => x * 2.0).as("twice"))
      .filter(not($"p2" <=> $"twice")).count()
    assert(lin == 0)
    // null element → null result
    val nulled = Seq(Tuple1(Seq[java.lang.Float](1.0f, null, 3.0f)))
      .toDF("embedding")
      .select(randomProject($"embedding", 4).as("p")).collect()
    assert(nulled.head.isNullAt(0))
    // SQL surface
    val viaSql = spark.sql(
      "SELECT random_project(array(CAST(1.0 AS FLOAT)), 2) AS p").collect()
    assert(viaSql.head.getSeq[Double](0).forall(v => v == 1.0 || v == -1.0))
  }

  // ---- BpeEncode: the native tokenizer-apply kernel (round 13) ----

  /** Sequential reference: apply merges strictly in rank order, each as a
    * leftmost-non-overlapping sweep — the replace-chain/oracle recipe,
    * restated over symbol arrays. The kernel's rank-floored greedy loop
    * must reproduce this on EVERY table (including dual-derivation and
    * duplicate-pair tables, where unfloored greedy diverges — ADVICE r13).
    */
  private def seqApply(word: String, merges: Seq[(String, String, String)]): Vector[String] = {
    var syms = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < word.length) {
        val cc = Character.charCount(word.codePointAt(i))
        b += word.substring(i, i + cc); i += cc
      }
      b.result()
    }
    merges.foreach { case (l, r, m) =>
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) { out += m; i += 2 }
        else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms
  }

  private def withCodegenOnly[T](body: => T): T = {
    val prior = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body finally prior match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("bpeEncode survives a 2000-merge table under CODEGEN_ONLY (plan size independent of merges)") {
    import spark.implicits._
    import graft.expressions.BpeMergeTable
    // a 2000-deep merge chain: a+b→ab, ab+b→abb, … — the merge count that
    // silently breaks an expression-tree encoder (Janino 64 KB / analyzer
    // depth). The kernel's table is a reference object, so CODEGEN_ONLY
    // (fallback-to-interpreted = hard error) proves the projection still
    // fully codegens at production merge counts.
    val n = 2000
    val chain = (1 to n).map { i =>
      val left = "a" + "b" * (i - 1)
      ("xx", i.toLong, left, "b", left + "b")
    }
    val table = BpeMergeTable(chain, 1 << 21)
    val words = Seq("a" + "b" * n, "a" + "b" * 700, "b" * 5, "a", "ba",
      "a" + "b" * 3 + "a" + "b" * 2)
    val got = withCodegenOnly {
      words.toDF("word").select(bpeEncode(lit("xx"), $"word", table).as("ids"))
        .collect().map(_.getSeq[Long](0).toList)
    }
    val mergesSeq = chain.map(t => (t._3, t._4, t._5))
    val want = words.map { w =>
      seqApply(w, mergesSeq).map { s =>
        if (s.codePointCount(0, s.length) == 1) s.codePointAt(0).toLong
        else (1L << 21) + chain.find(_._5 == s).get._2
      }.toList
    }
    assert(got.toSeq == want,
      s"kernel disagrees with sequential rank-order apply: $got vs $want")
    // the deepest word collapsed to ONE merged symbol with the top-rank id
    assert(got.head == List((1L << 21) + n))
  }

  /** Expected ids for `seqApply`'s segmentation under the min-rank id rule. */
  private def seqIds(word: String, merges: Seq[(String, Long, String, String, String)],
      base: Long): List[Long] =
    seqApply(word, merges.map(t => (t._3, t._4, t._5))).map { s =>
      if (s.codePointCount(0, s.length) == 1) s.codePointAt(0).toLong
      else base + merges.filter(_._5 == s).map(_._2).min
    }.toList

  test("bpeEncode ≡ sequential rank-order apply on random consistent tables (the equivalence law)") {
    import spark.implicits._
    import graft.expressions.{BpeMergeTable, KernelOps}
    import org.apache.spark.unsafe.types.UTF8String
    // random CONSISTENT tables (each merge's sides already exist — the
    // invariant every trained table has by construction) + random words.
    // A 2-LETTER alphabet maximizes dual-derivation symbols — the table
    // class the unfloored greedy loop diverged on (ADVICE r13: ~0.2% of
    // 3-letter draws diverge, so 20 trials passed by seed luck). The bulk
    // runs at the kernel level (pure function, no job per trial) so 400
    // trials × 60 words are cheap; a subset re-runs through the Spark
    // projection to pin the expression path. Fixed seed → reproducible.
    val rnd = new scala.util.Random(20260815L)
    val alphabet = Vector("a", "b")
    val base = 1L << 21
    (1 to 400).foreach { trial =>
      var created = alphabet
      val merges = (1 to 30).map { rank =>
        val l = created(rnd.nextInt(created.size))
        val r = created(rnd.nextInt(created.size))
        created :+= (l + r)
        ("xx", rank.toLong, l, r, l + r)
      }
      val table = BpeMergeTable(merges, base)
      val words = (1 to 60).map(_ =>
        (1 to (1 + rnd.nextInt(14))).map(_ => alphabet(rnd.nextInt(2))).mkString)
      val lang = UTF8String.fromString("xx")
      words.foreach { w =>
        val got = KernelOps.bpeEncode(lang, UTF8String.fromString(w), table)
          .toLongArray().toList
        val want = seqIds(w, merges, base)
        assert(got == want, s"trial $trial word '$w': $got vs $want")
      }
      if (trial <= 5) {
        val viaSpark = words.distinct.toDF("word")
          .select($"word", bpeEncode(lit("xx"), $"word", table).as("ids"))
          .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
        words.distinct.foreach { w =>
          assert(viaSpark(w) == seqIds(w, merges, base), s"spark path, trial $trial '$w'")
        }
      }
    }
  }

  test("bpeEncode dual-derivation fixture: a sweep re-creating a lower-ranked pair (the rank floor)") {
    import spark.implicits._
    import graft.expressions.BpeMergeTable
    // The ADVICE r13 counterexample, pinned forever: every merge's sides
    // exist before its rank (a consistent, trainable table), yet 'aabaaa'
    // diverges under unfloored greedy. Sequential: r1 → [aa,b,aa,a], r6 →
    // [aab,aa,a] — the r6 sweep creates an (aab,aa) occurrence of rank 5
    // AFTER sequential's r5 pass already ran, so an unfloored global-min
    // loop fires r5 next and emits [aabaa, a]. The floor ignores it.
    val base = 0x110000L
    val merges = Seq(
      ("xx", 1L, "a", "a", "aa"), ("xx", 2L, "a", "b", "ab"),
      ("xx", 3L, "a", "ab", "aab"), ("xx", 4L, "b", "ab", "bab"),
      ("xx", 5L, "aab", "aa", "aabaa"), ("xx", 6L, "aa", "b", "aab"))
    val table = BpeMergeTable(merges, base)
    val words = Seq("aabaaa", "aabab", "babab", "aaabaa", "abab")
    val got = words.toDF("word")
      .select($"word", bpeEncode(lit("xx"), $"word", table).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    words.foreach { w =>
      assert(got(w) == seqIds(w, merges, base), s"word '$w': ${got(w)}")
    }
    // the headline word, spelled out: [aab, aa, a] — aab takes the
    // min-rank id of its two derivations ((a,ab) r3 and (aa,b) r6)
    assert(got("aabaaa") == List(base + 3, base + 1, 'a'.toLong))
  }

  test("bpeEncode replays duplicate pairs: the same (l,r) trained at two ranks fires at both") {
    import spark.implicits._
    import graft.expressions.BpeMergeTable
    // A pair CAN recur at a later rank: a later sweep re-creates one of
    // its occurrences (the dual-derivation mechanism) and training, which
    // counts the live word table, re-selects it. The chain replays every
    // table row, so the kernel keeps every rank per pair — a lowest-rank-
    // only map would make the duplicate invisible once the floor passed
    // rank 5. Here (aab,aa) is trained at r5 AND r7; on 'aabaaa' the r6
    // sweep re-creates an (aab,aa) occurrence, so sequential fires the r7
    // duplicate: [aab,aa,a] → [aabaa, a].
    val base = 1L << 21
    val merges = Seq(
      ("xx", 1L, "a", "a", "aa"), ("xx", 2L, "a", "b", "ab"),
      ("xx", 3L, "a", "ab", "aab"), ("xx", 4L, "b", "ab", "bab"),
      ("xx", 5L, "aab", "aa", "aabaa"), ("xx", 6L, "aa", "b", "aab"),
      ("xx", 7L, "aab", "aa", "aabaa"))
    val table = BpeMergeTable(merges, base)
    val words = Seq("aabaaa", "aabaa", "aab", "aabab", "babaa", "aaabaa")
    val got = words.toDF("word")
      .select($"word", bpeEncode(lit("xx"), $"word", table).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    words.foreach { w =>
      assert(got(w) == seqIds(w, merges, base), s"word '$w': ${got(w)}")
    }
    // spelled out: the r7 duplicate fired, and 'aabaa' keeps the min-rank
    // id of its two trained ranks (5 and 7)
    assert(got("aabaaa") == List(base + 5, 'a'.toLong))
  }

  test("byteAlias/byteUnalias round-trip under CODEGEN_ONLY; non-alias input nulls out in codegen") {
    import spark.implicits._
    import graft.expressions.NativeKernels.{byteAlias, byteUnalias}
    val texts = Seq("café", "日本", "plain", "𝄞")
    val got = withCodegenOnly {
      texts.toDF("t")
        .select($"t", byteUnalias(byteAlias($"t")).as("back"), byteUnalias($"t").as("bad"))
        .collect()
    }
    got.foreach { r =>
      assert(new String(r.getAs[Array[Byte]](1), "UTF-8") == r.getString(0))
      assert(r.isNullAt(2), s"'${r.getString(0)}' is not an alias string; unalias must null")
    }
  }

  test("bpeEncode ids are true codepoints: multibyte and supplementary symbols never alias") {
    import spark.implicits._
    import graft.expressions.BpeMergeTable
    // é = U+00E9 (2 UTF-8 bytes), 𝄞 = U+1D11E (surrogate pair in UTF-16):
    // the kernel must emit the CODEPOINT (DuckDB unicode()), not a first
    // byte or a lone surrogate — the aliasing the ascii() fallback had.
    val table = BpeMergeTable(Seq(("fr", 1L, "é", "é", "éé")), 0x110000L)
    val got = Seq("héé", "𝄞é", "café")
      .toDF("word").select($"word", bpeEncode(lit("fr"), $"word", table).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    assert(got("héé") == List('h'.toLong, 0x110000L + 1))
    assert(got("𝄞é") == List(0x1D11EL, 0xE9L))
    assert(got("café") == List('c'.toLong, 'a'.toLong, 'f'.toLong, 0xE9L))
    // untrained language: pure codepoint stream, no merges
    val un = Seq("héé").toDF("word")
      .select(bpeEncode(lit("zz"), $"word", table).as("ids"))
      .collect()(0).getSeq[Long](0).toList
    assert(un == List('h'.toLong, 0xE9L, 0xE9L))
  }

  test("bpeEncode round-trips multi-byte words: decode(ids) == word for every id stream") {
    import spark.implicits._
    import graft.expressions.BpeMergeTable
    // the lossless-ness law production tokenizers rely on, over a mixed
    // Latin/accents/CJK/supplementary fixture: with the id base above the
    // Unicode code space (0x110000), every id is unambiguously either a
    // codepoint or a merge rank, so decoding is a total function.
    val base = 0x110000L
    val merges = Seq(
      ("xx", 1L, "é", "e", "ée"), ("xx", 2L, "ée", "s", "ées"),
      ("xx", 3L, "日", "本", "日本"), ("xx", 4L, "𝄞", "𝄞", "𝄞𝄞"))
    val table = BpeMergeTable(merges, base)
    val decode: Map[Long, String] =
      merges.map(m => (base + m._2) -> m._5).toMap
    val words = Seq("armées", "ée", "日本語", "𝄞𝄞𝄞", "naïve", "héé", "mixé𝄞日本")
    val got = words.toDF("word")
      .select($"word", bpeEncode(lit("xx"), $"word", table).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList)
    got.foreach { case (w, ids) =>
      val back = ids.map(id =>
        decode.getOrElse(id, new String(Character.toChars(id.toInt)))).mkString
      assert(back == w, s"round-trip broke: '$w' -> $ids -> '$back'")
    }
    // and the fixture really exercised merges, not just codepoints
    assert(got.exists(_._2.exists(_ >= base)))
  }

  test("every kernel gives the same values under CODEGEN_ONLY and NO_CODEGEN") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.expressions.{BpeMergeTable, KernelOps}
    // fixed inputs: plain and multibyte text, a double space, an empty
    // string, null elements, empty arrays, and an all-null row
    val bloom = new Array[Byte](KernelOps.BloomBytes)
    Seq(3L, 11L).foreach(KernelOps.bloomInsert(bloom, _))
    val f = (xs: Seq[java.lang.Float]) => xs
    def cent(cell: java.lang.Long, emb: Seq[java.lang.Float], n2: java.lang.Double) = Row(cell, emb, n2)
    val sep = graft.text.PipelineQueries.BpeSep
    val rows = Seq(
      Row(1L, "the quick brown fox jumps", f(Seq(1f, 2f, 3f)), f(Seq(4f, 5f, 6f)),
        Seq("a", "b c", "d"), Seq(1L, 4L, 9L), bloom, 3L, 14.0,
        Seq(cent(0L, Seq(1f, 2f, 3f), 14.0), cent(1L, Seq(0f, 0f, 1f), 1.0)),
        s"${sep}a$sep${sep}b$sep${sep}ab$sep"),
      Row(2L, "Ärger café 日本語 𝄞 naïve", f(Seq(1f, null, 3f)), f(Seq(1f, 1f, 1f)),
        Seq("é", null, "日本"), Seq(2L, 5L), bloom, 4L, 2.0,
        Seq(cent(null, Seq(1f, 1f, 1f), 3.0), cent(7L, Seq(1f, null, 1f), 2.0)),
        s"${sep}日$sep${sep}本$sep"),
      Row(3L, "", f(Seq()), f(Seq()), Seq(), Seq(), bloom, 11L, 0.0, Seq(), s"${sep}x$sep"),
      Row(4L, "a  b", f(Seq(1f, 2f)), f(Seq(3f)), Seq("a  b"), Seq(7L), null, null, null,
        Seq(cent(2L, Seq(1f, 2f), null)), ""),
      Row(5L, null, null, null, null, null, null, null, null, null, null))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("fa", ArrayType(FloatType)), StructField("fb", ArrayType(FloatType)),
      StructField("sa", ArrayType(StringType)), StructField("la", ArrayType(LongType)),
      StructField("bloom", BinaryType), StructField("key", LongType),
      StructField("n2", DoubleType),
      StructField("cents", ArrayType(StructType(Seq(StructField("cell", LongType),
        StructField("c_emb", ArrayType(FloatType)), StructField("c_n2", DoubleType))))),
      StructField("seq", StringType)))
    // the shuffle keeps the optimizer from folding the projection into a
    // local relation, so the kernels run in the mode under test
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema).repartition(1)
    val table = BpeMergeTable(Seq(("xx", 1L, "a", "b", "ab"), ("xx", 2L, "日", "本", "日本")), 1000L)
    import spark.implicits._
    val kernels = Seq(
      "dotF" -> dotF($"fa", $"fb"),
      "bloomMightContain" -> bloomMightContain($"bloom", $"key"),
      "wordShingles" -> wordShingles($"text", 2),
      "wordGrams" -> wordGrams($"text", 2),
      "charNgrams" -> charNgrams($"text", 3),
      "jaccardSorted" -> jaccardSorted($"sa", wordShingles($"text", 1)),
      "charNgramHashes" -> charNgramHashes($"text", 3),
      "jaccardSortedLong" -> jaccardSorted($"la", charNgramHashes($"text", 1)),
      "minhashSignature" -> minhashSignature($"sa", 4),
      "simhash60" -> simhash60($"sa"),
      "rollingFingerprints" -> rollingFingerprints($"text", 3, 2),
      "featureHashVector" -> featureHashVector($"sa", 8),
      "minhashPortable" -> minhashPortable($"sa", 4),
      "randomProject" -> randomProject($"fa", 3),
      "foldText" -> foldText($"text"),
      "bpeEncode" -> bpeEncode(lit("xx"), $"text", table),
      "bpePairs" -> bpePairs($"seq", sep.charAt(0)),
      "sortedPairs" -> sortedPairs($"la"),
      "nearestCell" -> nearestCell($"fa", $"n2", $"cents"),
      "byteAlias" -> byteAlias($"text"),
      "byteUnalias" -> byteUnalias(byteAlias($"text")),
      "byteUnalias(raw)" -> byteUnalias($"text"))
    val projected = df.select($"id" +: kernels.map { case (n, k) => k.as(n) }: _*)
    def run(conf: (String, String)*): Seq[Seq[Any]] = Session.withConf(spark, conf: _*) {
      projected.orderBy($"id").collect().toSeq.map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      })
    }
    val codegen = run("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val interpreted = run("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    assert(codegen.length == rows.length)
    kernels.map(_._1).zipWithIndex.foreach { case (name, i) =>
      val (cg, in) = (codegen.map(_(i + 1)), interpreted.map(_(i + 1)))
      assert(cg == in, s"$name: codegen $cg, interpreted $in")
      assert(cg.exists(_ != null), s"$name returned only nulls")
      // null in, null out (nearestCell: null only for null centroids)
      assert(cg.last == null, s"$name on the all-null row: ${cg.last}")
    }
  }

  test("src/main declares kernel expression classes and KernelOps codegen strings only in JaccardSorted and NearestCell") {
    // every other kernel is one StaticInvoke built in its NativeKernels
    // function; comments are dropped first, so scaladoc may still quote
    // the idioms. Generated Java names a kernel fully qualified, so any
    // `graft.expressions.KernelOps.` left in code is a codegen string.
    val kept = Set("JaccardSorted", "NearestCell")
    def owners(source: String): Set[String] = {
      val code = source.replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("//[^\n]*", "")
      val decls = """(?m)^(?:final\s+|private\s+)*(?:case\s+)?(?:class|object|trait)\s+(\w+)""".r
        .findAllMatchIn(code).map(m => m.start -> m.group(1)).toSeq
      def ownerAt(pos: Int): String = decls.takeWhile(_._1 <= pos).lastOption.fold("<top>")(_._2)
      val classes = """\bextends\s+(?:[\w.]*\.)?(?:Unary|Binary|Ternary)Expression\b""".r
      val calls = """graft\.expressions\.KernelOps\.""".r
      (classes.findAllMatchIn(code) ++ calls.findAllMatchIn(code)).map(m => ownerAt(m.start)).toSet
    }
    val legacy = "case class Fold(child: Expression) extends UnaryExpression {\n" +
      "  def gen = defineCodeGen(ctx, ev, c => s\"graft.expressions.KernelOps.foldText($c)\")\n}"
    assert(owners(legacy) == Set("Fold"))
    assert(owners("object Helper {\n  val call = \"graft.expressions.KernelOps.dotF(a, b)\"\n}") == Set("Helper"))
    assert(owners("case class Dot(l: Expression, r: Expression)\n    extends " +
      "org.apache.spark.sql.catalyst.expressions.BinaryExpression") == Set("Dot"))
    val commented = legacy.split("\n").map("// " + _).mkString("\n")
    assert(owners(s"/** $legacy */\n$commented\nobject NativeKernels") == Set.empty)
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found from ${sys.props("user.dir")}")
    val files = java.nio.file.Files.walk(root)
    val sources = try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    val found = sources.flatMap(f => owners(java.nio.file.Files.readString(f)).map(f.getFileName.toString -> _))
    assert(found.toSet == kept.map("NativeKernels.scala" -> _))
  }

  test("q78 chunk rows equal an independent per-doc recomputation (count, lengths, md5)") {
    import spark.implicits._
    // exercise the REGISTERED query end-to-end (the previous version of
    // this test re-derived the chunk arithmetic beside the query instead of
    // through it — ADVICE r5) and check every output row against a plain
    // Scala recomputation from the same documents table.
    val k = 128; val stride = 96
    val rows = graft.text.TextQueries.q78DocChunks(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf).filter($"doc_id" % 5 === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet == docs.keySet)
    for ((id, rs) <- byDoc) {
      val toks = docs(id); val n = toks.size
      val expChunks = if (n <= k) 1 else (n - (k - stride + 1)) / stride + 1
      assert(rs.length == expChunks, s"doc $id: ${rs.length} chunks, want $expChunks")
      for ((r, i) <- rs.sortBy(_.getLong(1)).zipWithIndex) {
        assert(r.getLong(1) == i)
        val exp = toks.slice(i * stride, i * stride + k)
        assert(r.getLong(2) == exp.length, s"doc $id chunk $i length")
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(exp.mkString(" ").getBytes("UTF-8")).map(b => f"$b%02x").mkString
        assert(r.getString(3) == md, s"doc $id chunk $i payload")
      }
      // token conservation: chunks cover the doc with (nChunks-1)*(k-stride) overlap
      assert(rs.map(_.getLong(2)).sum == n + (expChunks - 1) * (k - stride))
    }
  }
}
