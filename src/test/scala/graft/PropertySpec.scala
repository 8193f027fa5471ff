package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.NativeKernels._

/** Property-based operator laws (SURVEY §5): generated inputs through the
  * same operators the registered queries use. The generators cover the
  * degenerate shapes fixed testdata cannot: empty lists, single tokens,
  * all-identical rows, fully-null key columns.
  *
  * scalacheck generators are driven directly with fixed seeds (the
  * scalatest-scalacheck bridge isn't in the offline artifact cache):
  * deterministic, and each Spark job is one generated case, so case count
  * is kept deliberately small.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong), retries = 100))

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(6).mkString)
  private val text = Gen.listOf(word).map(_.mkString(" "))

  test("dedup idempotence and size law: |distinct(xs ++ xs)| == |distinct(xs)|") {
    import spark.implicits._
    samples(Gen.nonEmptyListOf(Gen.chooseNum(0, 20)), 6).foreach { xs =>
      val d = (xs ++ xs).toDF("v").dropDuplicates()
      assert(d.count() == xs.distinct.length.toLong)
      assert(d.dropDuplicates().count() == d.count())
    }
  }

  test("left-outer join null propagation: every left row survives; unmatched rows null out") {
    import spark.implicits._
    val gen = Gen.zip(Gen.nonEmptyListOf(Gen.chooseNum(0L, 15L)), Gen.listOf(Gen.chooseNum(0L, 15L)))
    samples(gen, 6).foreach { case (left, right) =>
      val l = left.toDF("k")
      val r = right.distinct.toDF("rk").withColumn("tag", lit("hit"))
      val j = l.join(r, $"k" === $"rk", "left_outer")
      assert(j.count() == left.length.toLong)
      assert(j.filter($"tag".isNull).count() == left.count(k => !right.contains(k)).toLong)
      assert(j.filter($"tag".isNotNull && $"k" =!= $"rk").count() == 0)
    }
  }

  test("window row_number uniqueness and density within each partition key") {
    import spark.implicits._
    val gen = Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0, 100)))
    samples(gen, 6).foreach { rows =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"g").orderBy($"v", $"uid")
      val df = rows.zipWithIndex.map { case ((g, v), i) => (g, v, i) }
        .toDF("g", "v", "uid")
        .withColumn("rn", row_number().over(w))
      df.collect().groupBy(_.getAs[Int]("g")).foreach { case (_, rs) =>
        assert(rs.map(_.getAs[Int]("rn")).sorted.toSeq == (1 to rs.length))
      }
    }
  }

  test("jaccard laws on generated texts: range, reflexivity, symmetry, spec equality") {
    import spark.implicits._
    val pairs = samples(Gen.zip(text, text), 12)
    val df = pairs.toDF("a", "b").select(
      jaccardSorted(wordShingles($"a", 3), wordShingles($"b", 3)).as("jab"),
      jaccardSorted(wordShingles($"b", 3), wordShingles($"a", 3)).as("jba"),
      jaccardSorted(wordShingles($"a", 3), wordShingles($"a", 3)).as("jaa"),
      (size(array_intersect(wordShingles($"a", 3), wordShingles($"b", 3))).cast("double") /
        size(array_union(wordShingles($"a", 3), wordShingles($"b", 3)))).as("spec"))
    df.collect().foreach { r =>
      assert(r.getAs[Double]("jaa") == 1.0)
      assert(r.getAs[Double]("jab") == r.getAs[Double]("jba"))
      assert(r.getAs[Double]("jab") >= 0.0 && r.getAs[Double]("jab") <= 1.0)
      assert(r.getAs[Double]("jab") == r.getAs[Double]("spec"))
    }
  }

  test("minhash signatures are order-invariant (the property LSH banding relies on)") {
    import spark.implicits._
    val texts = samples(text.suchThat(_.nonEmpty), 12)
    val df = texts.toDF("a").select(
      minhashSignature(wordShingles($"a", 3), 64).as("m1"),
      minhashSignature(reverse(wordShingles($"a", 3)), 64).as("m2"))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("na.drop subset: drops exactly the null-keyed rows, keeps other-column nulls") {
    import spark.implicits._
    samples(Gen.nonEmptyListOf(Gen.option(Gen.chooseNum(0, 9))), 6).foreach { keys =>
      val schema = StructType(Seq(
        StructField("k", IntegerType, nullable = true),
        StructField("other", StringType, nullable = true)))
      val rows = keys.map(k => Row(k.orNull, null))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      assert(df.na.drop("any", Seq("k")).count() == keys.count(_.isDefined).toLong)
    }
  }

  test("SignatureMin aggregator: partitioning-invariant and equal to the explode+min rewrite") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    val sigMin = udaf(graft.operators.SignatureMin)
    val sigs = Tables.documents(spark2, "/root/testdata/sf0.001")
      .select($"source", minhashPortable(wordShingles($"text", 3), 16).as("sig"))
      .cache()
    def run(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Long]] =
      df.groupBy($"source").agg(sigMin($"sig").as("s")).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val one = run(sigs)
    val thirteen = run(sigs.repartition(13)) // merge() must be associative/commutative
    assert(one == thirteen)
    // explode rewrite as the executable spec
    val viaExplode = sigs.select($"source", posexplode($"sig"))
      .groupBy($"source", $"pos").agg(min($"col").as("m"))
      .collect().groupBy(_.getString(0))
      .map { case (src, rows) =>
        src -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    assert(one == viaExplode)
    assert(one.values.forall(_.length == 16))
  }

  test("MisraGries laws: no false negatives above n/(k+1), estimates within bound, any split") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    val k = 64
    val mg = udaf(new graft.operators.MisraGries(k))
    val toks = Tables.documents(spark2, "/root/testdata/sf0.001")
      .select($"lang", explode(split($"text", " ", -1)).as("tok")).cache()
    val exact = toks.groupBy($"lang", $"tok").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totals = exact.groupBy(_._1._1).map { case (l, m) => l -> m.values.sum }
    // the guarantee must actually be exercised: some key sits above the bound
    assert(exact.exists { case ((l, _), n) => n > totals(l) / (k + 1).toDouble })
    for (parts <- Seq(1, 13)) { // summary contents may differ by merge tree; the bound may not
      val sketches = toks.repartition(parts).groupBy($"lang").agg(mg($"tok").as("s"))
        .collect().map(r => r.getString(0) -> r.getMap[String, Long](1)).toMap
      for ((lang, m) <- sketches) {
        val bound = totals(lang) / (k + 1).toDouble
        val missing = exact.collect {
          case ((l, t), n) if l == lang && n > bound && !m.contains(t) => (t, n)
        }
        assert(missing.isEmpty, s"parts=$parts $lang missing $missing (bound $bound)")
        m.foreach { case (t, est) =>
          val truth = exact((lang, t))
          assert(est <= truth && est >= truth - bound,
            s"parts=$parts $lang/$t est=$est truth=$truth bound=$bound")
        }
        assert(m.size <= k)
      }
    }
  }

  test("q142 equals the exact groupBy+threshold formulation (sketch never decides a number)") {
    val spark2 = SparkTestSession.spark
    import spark2.implicits._
    val sf = "/root/testdata/sf0.001"
    val got = graft.text.TextQueries.q142HeavyHitters(spark2, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val toks = Tables.documents(spark2, sf)
      .select($"lang", explode(split($"text", " ", -1)).as("tok"))
    val tot = toks.groupBy($"lang").agg(count(lit(1)).as("n_toks"))
    val want = toks.groupBy($"lang", $"tok").agg(count(lit(1)).as("n"))
      .join(tot, "lang").filter($"n" * 100 >= $"n_toks" * 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.nonEmpty, "3% threshold must report something on the test corpus")
  }

  test("GFWB format laws: arbitrary records round-trip exactly; footer stats exact; skip sound") {
    // degenerate shapes the orders fixture can't produce: negative keys,
    // huge custkeys, unicode dictionary entries, duplicate keys, 1 record
    val rec = Gen.zip(
      Gen.chooseNum(-1000L, 1000L),
      Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2),
      Gen.chooseNum(-100000L, 100000L),
      Gen.oneOf("1-URGENT", "ünïcøde-prio", "x"))
    samples(Gen.nonEmptyListOf(rec), 4).foreach { rows =>
      val dir = Scratch.path(s"fwb_prop_${System.nanoTime()}")
      new java.io.File(dir).mkdirs()
      val dict = rows.map(_._4).distinct.sorted.toArray
      val codeOf = dict.zipWithIndex.toMap
      sources.FwbFormat.writeFile(s"$dir/part-0.gfwb",
        rows.iterator.map(r => Row(r._1, r._2, r._3, r._4)), dict, codeOf)
      val got = spark.read.format("graft-fwb").load(dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      assert(got.toSeq.sorted == rows.sorted, "round-trip multiset")
      val st = sources.FwbFormat.readFooter(s"$dir/part-0.gfwb")
      assert(st.n == rows.length.toLong)
      assert(st.minKey == rows.map(_._1).min && st.maxKey == rows.map(_._1).max)
      assert(st.dict.toSeq == dict.toSeq)
      // bloom completeness: no written custkey may ever test negative
      assert(rows.forall(r => expressions.KernelOps.bloomMightContain(st.custBloom, r._2)))
      // skip soundness: any key predicate via the source == scala-side filter
      import spark.implicits._
      val cut = rows.map(_._1).min + 1
      val viaSource = spark.read.format("graft-fwb").load(dir)
        .filter($"o_orderkey" >= cut).count()
      assert(viaSource == rows.count(_._1 >= cut).toLong)
    }
  }

  test("media codec laws: arbitrary rasters/waveforms/clips round-trip; decode is TOTAL on garbage") {
    import graft.media.MediaFunctions
    // round-trip on generated content — degenerate dims/values included
    val raster = for {
      w <- Gen.chooseNum(1, 9); h <- Gen.chooseNum(1, 6)
      px <- Gen.listOfN(3 * w * h, Gen.chooseNum(0, 255))
    } yield (w, h, px.map(_.toByte).toArray)
    samples(raster, 8).foreach { case (w, h, rgb) =>
      assert(MediaFunctions.decodeImage(MediaFunctions.encodePpm(w, h, rgb))
        .exists(i => i.width == w && i.height == h && i.rgb.sameElements(rgb)))
      assert(MediaFunctions.decodeImage(MediaFunctions.encodeBmp(w, h, rgb))
        .exists(i => i.rgb.sameElements(rgb)))
      assert(MediaFunctions.decodeAvi(MediaFunctions.encodeAvi(w, h, 1000, Seq(rgb, rgb)))
        .exists(v => v.frames.size == 2 && v.frames.head.sameElements(rgb)))
    }
    val wave = for {
      ch <- Gen.oneOf(1, 2)
      n <- Gen.chooseNum(1, 40)
      ss <- Gen.listOfN(ch * n, Gen.chooseNum(Short.MinValue.toInt, Short.MaxValue.toInt))
    } yield (ch, ss.toArray)
    samples(wave, 8).foreach { case (ch, ss) =>
      assert(MediaFunctions.decodeWav(MediaFunctions.encodeWavPcm16(ch, 8000, ss))
        .exists(a => a.channels == ch && a.samples.sameElements(ss)))
    }
    // TOTALITY FUZZ — the 100 TB claim that one bad object can never kill
    // a stage: random garbage and bit-flipped VALID payloads must return
    // None or a valid decode, never throw. Bit flips target headers too.
    val garbage = Gen.listOf(Gen.chooseNum(-128, 127)).map(_.map(_.toByte).toArray)
    samples(garbage, 40).foreach { bytes =>
      MediaFunctions.decodeImage(bytes); MediaFunctions.decodeWav(bytes)
      MediaFunctions.decodeAvi(bytes) // no assertion needed: not throwing IS the law
    }
    val valid = Seq(
      MediaFunctions.encodePpm(5, 4, Array.fill(60)(7.toByte)),
      MediaFunctions.encodeBmp(5, 4, Array.fill(60)(9.toByte)),
      MediaFunctions.encodeWavPcm16(2, 8000, Array.tabulate(20)(_ * 3 - 30)),
      MediaFunctions.encodeAvi(3, 3, 1000, Seq(Array.fill(27)(5.toByte))))
    val rnd = new scala.util.Random(20260815L)
    valid.foreach { payload =>
      (0 until 200).foreach { _ =>
        val mutated = payload.clone()
        (0 until 1 + rnd.nextInt(4)).foreach { _ =>
          mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
        }
        MediaFunctions.decodeImage(mutated)
        MediaFunctions.decodeWav(mutated)
        MediaFunctions.decodeAvi(mutated)
      }
      (0 until 50).foreach { _ => // truncations at every kind of boundary
        MediaFunctions.decodeImage(payload.take(rnd.nextInt(payload.length)))
        MediaFunctions.decodeWav(payload.take(rnd.nextInt(payload.length)))
        MediaFunctions.decodeAvi(payload.take(rnd.nextInt(payload.length)))
      }
    }
  }
}
