package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, TernaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the per-row kernels that dominate the
  * vector/dedup queries.
  *
  * Why these exist: Spark's higher-order functions (`transform`, `zip_with`,
  * `aggregate`) evaluate their lambda INTERPRETED, one expression-tree walk
  * per array element. A 64-dim dot product via `zip_with`+`aggregate` costs
  * ~128 interpreted evals per pair; a 128-hash minhash signature via nested
  * `transform` costs ~13k per document. BENCH r02 measured the damage:
  * q20 374 s, q28 44 s, q27 15 s at sf0.1. Each expression here replaces an
  * interpreted lambda pipeline with one tight JVM loop per row (measured
  * ~50-200× on those queries) — the difference between a usable and an
  * unusable operator at 100 TB.
  *
  * Each kernel is declared once: its function below builds a
  * `StaticInvoke` of the [[KernelOps]] method of the same name (see
  * [[kernel]]). Whole-stage codegen emits that static call inside the
  * generated loop like any built-in — no CodegenFallback row
  * re-evaluation, no interpreted subtree — and the interpreted path calls
  * the SAME method by reflection, so the two paths cannot drift.
  * `propagateNull` gives null in → null out; `returnNullable` marks the
  * three kernels that also return NULL themselves (`dotF`, `randomProject`,
  * `byteUnalias`). Int and byte parameters, and `bpeEncode`'s merge
  * table, travel as `Literal` arguments; the bounds on the parameters are
  * checked here, when the column is built. The declared input types are
  * implicit-cast targets (StaticInvoke is `ImplicitCastInputTypes`): an
  * input Spark's type coercion can cast to the declared type is cast, not
  * rejected (a bigint text is read as its decimal string); any other
  * input fails analysis with `DATATYPE_MISMATCH`. An unaliased kernel
  * column is named
  * `static_invoke(graft.expressions.KernelOps.<method>(…))`.
  *
  * Two kernels keep a hand-written expression class, because a
  * StaticInvoke cannot say them: [[NearestCell]] is not null-intolerant,
  * and [[JaccardSorted]] passes a codegen literal computed from its
  * RESOLVED input types, which a Column builder cannot see.
  */
object NativeKernels {

  private def c(e: Expression): Column = ColumnBridge.column(e)

  private val StrArray: DataType = ArrayType(StringType)
  private val FloatArray: DataType = ArrayType(FloatType)
  // kernel outputs: arrays that never hold a null element
  private val Strs: DataType = ArrayType(StringType, containsNull = false)
  private val Longs: DataType = ArrayType(LongType, containsNull = false)

  /** The one kernel declaration: `KernelOps.<method>(inputs ++ params)` as
    * a null-propagating `StaticInvoke`. `inputs` pairs each column with
    * its declared type; `params` are the literal arguments.
    */
  private def kernel(method: String, dataType: DataType, inputs: Seq[(Column, DataType)],
      params: Seq[Literal] = Nil, returnNullable: Boolean = false): Column =
    c(StaticInvoke(KernelOps.getClass, dataType, method,
      inputs.map(i => ColumnBridge.expression(i._1)) ++ params,
      inputs.map(_._2) ++ params.map(_.dataType),
      propagateNull = true, returnNullable = returnNullable))

  /** Σ aᵢ·bᵢ over two float-array columns, accumulated in double —
    * bit-identical to DuckDB's list_dot_product over DOUBLE[] casts
    * (sequential left-to-right fold in both engines). NULL when the
    * lengths differ or any element is null — the exact semantics of
    * `aggregate(zip_with(a,b,(x,y)->x*y),0d,(m,n)->m+n)` — so the
    * AccelerateVectorOps rewrite is observationally identical for every
    * float-array input (ADVICE r2, medium).
    */
  def dotF(a: Column, b: Column): Column =
    kernel("dotF", DoubleType, Seq(a -> FloatArray, b -> FloatArray), returnNullable = true)

  /** Membership probe against a [[KernelOps.BloomBytes]]-sized bloom
    * (binary column) — codegen'd, so the corpus-side pre-filter of q228
    * sits inside the generated scan loop.
    */
  def bloomMightContain(bloom: Column, key: Column): Column =
    kernel("bloomMightContain", BooleanType, Seq(bloom -> BinaryType, key -> LongType))

  /** Distinct word k-shingles of a space-separated text, sorted (binary
    * UTF8 order) so downstream set ops can two-pointer merge. Matches
    * TextFunctions.shingles ∘ array_distinct up to order, including the
    * "fewer than k tokens → whole text" degenerate case.
    */
  def wordShingles(text: Column, k: Int): Column = {
    require(k >= 1)
    kernel("wordShingles", Strs, Seq(text -> StringType), Seq(Literal(k)))
  }

  /** ALL word k-grams of a space-separated text, in token order, duplicates
    * kept — the MULTISET twin of [[wordShingles]], bit-equal to
    * `TextFunctions.shingles(tokens(text), k)` (NativeKernelsSpec pins the
    * law, incl. the < k-token whole-text case and empty-token runs). The
    * HOF recipe re-evaluates `split(text)` per reference and walks one
    * interpreted lambda per gram; splitting on a single space and joining
    * with the same space reconstructs the original bytes, so each gram here
    * is just a byte SPAN between two space boundaries — one byte walk, no
    * token array, no re-concatenation (round 20: the n-gram LM statistics
    * pass of q89/q141).
    */
  def wordGrams(text: Column, k: Int): Column =
    kernel("wordGrams", Strs, Seq(text -> StringType), Seq(Literal(k)))

  /** Distinct char n-grams of a string, sorted. */
  def charNgrams(text: Column, n: Int): Column = {
    require(n >= 1)
    kernel("charNgrams", Strs, Seq(text -> StringType), Seq(Literal(n)))
  }

  /** |A∩B| / |A∪B| of two SORTED distinct arrays, both of strings or
    * both of longs (two-pointer merge, no allocation). Inputs MUST come
    * from wordShingles/charNgrams/charNgramHashes.
    */
  def jaccardSorted(a: Column, b: Column): Column =
    c(JaccardSorted(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Sorted distinct xxhash64 values of the char n-grams — the cheap-compare
    * representation for Jaccard at volume: merging long arrays costs a
    * primitive compare per step vs a byte-wise UTF8String compare. 64-bit
    * collisions perturb a Jaccard count with probability ~2⁻⁶⁴ per in-doc
    * gram pair (≪ the round(…,4) guard at any realistic corpus).
    */
  def charNgramHashes(text: Column, n: Int): Column = {
    require(n >= 1)
    kernel("charNgramHashes", Longs, Seq(text -> StringType), Seq(Literal(n)))
  }

  /** k-element MinHash signature: sig[j] = min over shingles of
    * xxhash64(shingle, seed=j). Order- and duplicate-insensitive.
    */
  def minhashSignature(shingles: Column, k: Int): Column = {
    require(k >= 1)
    kernel("minhashSignature", Longs, Seq(shingles -> StrArray), Seq(Literal(k)))
  }

  /** 60-bit SimHash over DISTINCT shingle strings, using the md5-prefix
    * hash h60(s) = int(md5hex(s)[0:15], 16) — reproducible bit-for-bit in
    * the DuckDB oracle (q26). Input must already be distinct.
    */
  def simhash60(shingles: Column): Column =
    kernel("simhash60", LongType, Seq(shingles -> StrArray))

  /** Winnowing fingerprints (the MOSS scheme, Schleimer et al. '03):
    * rolling polynomial hash (base 256, mod 2³¹) over k-codepoint windows,
    * then the min of each w-hash window; sorted distinct selected hashes.
    * Pure integer arithmetic, so the DuckDB oracle reproduces every value.
    */
  def rollingFingerprints(text: Column, k: Int, w: Int): Column = {
    require(k >= 1 && w >= 1)
    kernel("rollingFingerprints", Longs, Seq(text -> StringType), Seq(Literal(k), Literal(w)))
  }

  /** Signed feature hashing (Weinberger et al. '09): each DISTINCT shingle
    * s lands in dimension h60(s) % dims with sign ± from bit 59 of h60(s).
    * Emits a dense float vector whose entries are small exact integers, so
    * double-accumulated dot products and norms are bit-identical across
    * engines — the document-embedding input for cosine near-dup (q50).
    * dims must be ≤ 2⁵⁹ so the sign bit is independent of the bucket bits.
    */
  def featureHashVector(shingles: Column, dims: Int): Column = {
    require(dims >= 1 && dims <= (1 << 20))
    kernel("featureHashVector", ArrayType(FloatType, containsNull = false),
      Seq(shingles -> StrArray), Seq(Literal(dims)))
  }

  /** Portable (md5-derived, oracle-reproducible) MinHash signature — the
    * cross-engine-verifiable sibling of [[minhashSignature]].
    */
  def minhashPortable(shingles: Column, k: Int): Column = {
    require(k >= 1)
    kernel("minhashPortable", Longs, Seq(shingles -> StrArray), Seq(Literal(k)))
  }

  /** Signed ±1 random projection to `outDims` dimensions (JL lemma): the
    * dimensionality-reduction step before LSH/ANN when 64 dims is already
    * too wide to shuffle. Deterministic md5-derived sign matrix shared by
    * the DuckDB oracle. NULL when any input element is null.
    */
  def randomProject(vec: Column, outDims: Int): Column = {
    require(outDims >= 1)
    kernel("randomProject", ArrayType(DoubleType, containsNull = false),
      Seq(vec -> FloatArray), Seq(Literal(outDims)), returnNullable = true)
  }

  /** Unicode case/diacritic folding: NFD-decompose, drop combining marks,
    * lowercase per code point, recompose NFC. The canonicalization pass a
    * multilingual corpus runs before tokenizing/fingerprinting; equals
    * DuckDB's `lower(strip_accents(nfc_normalize(x)))` on Latin text.
    */
  def foldText(text: Column): Column =
    kernel("foldText", StringType, Seq(text -> StringType))

  /** BPE subword encode — the standard tokenizer inner loop (VERDICT r12
    * top item): segment a word by a trained merge table and emit subword
    * ids in one call. Replaces the O(merges)-deep per-language `replace`
    * chain that q207 compiled into the plan: the chain is one clean
    * projection at 10 merges but a 30k-merge production table would (a)
    * nest 30k expressions — past Janino's 64 KB method limit, silent
    * interpreted fallback or analyzer stack overflow — and (b) copy the
    * full delimited string O(merges) times per word. Here the merges live
    * in a [[BpeMergeTable]] REFERENCE OBJECT (an `ObjectType` literal, which
    * codegen embeds as a reference, not as the table), so generated-code
    * size is independent of merge count, and the loop is O(|word|²) hash
    * probes worst case — the GPT-2-class apply loop.
    *
    * Semantics: identical to applying the merges in rank order as
    * leftmost-non-overlapping replaces (the chain/oracle recipe). The
    * loop is greedy-lowest-rank WITH A RANK FLOOR that advances past
    * every applied rank. The floor is what makes greedy ≡ sequential:
    * a sweep of rank r removes all occurrences of pair r and cannot
    * create one (merged = left+right, both sides nonempty, so the merged
    * symbol differs from either side), hence when greedy picks minimum
    * present rank r' ≥ floor, every skipped rank in [floor, r') has no
    * occurrence — sequential would no-op through them and fire r' next.
    * WITHOUT the floor, greedy diverges on dual-derivation tables: a
    * later sweep can re-create a LOWER-ranked pair that sequential
    * already passed (e.g. (aa,b)→aab re-creating an (aab,aa) adjacency
    * after the (aab,aa) pass ran), and such tables arise in real BPE
    * training whenever a symbol has two derivations. NativeKernelsSpec
    * pins the dual-derivation counterexample + a randomized law.
    */
  def bpeEncode(lang: Column, word: Column, table: BpeMergeTable): Column =
    kernel("bpeEncode", Longs, Seq(lang -> StringType, word -> StringType),
      Seq(Literal(table, ObjectType(classOf[BpeMergeTable]))))

  /** Adjacent symbol pairs of a [[graft.text.PipelineQueries.BpeSep]]-
    * delimited BPE word state — `array<struct<l,r>>`, empty below 2
    * symbols. Replaces the trainer's per-row interpreted HOF chain
    * (`split` → `transform(sequence(...), j -> named_struct(...))`): one
    * byte-walk per row inside codegen, no regex, no interpreted lambda
    * per symbol (the round-19 optimization measured the lambda as the
    * BPE trainer's dominant per-round cost). Exactly equivalent to
    * `transform(sequence(1, size(a)-1), j -> struct(a[j], a[j+1]))` over
    * `a = split(substring(seq, 2, length(seq)-2), sep||sep)` — the
    * sentinel is a single 0x01 byte that cannot occur inside a UTF-8
    * multibyte sequence, so the byte walk splits exactly where the regex
    * split did.
    */
  def bpePairs(seq: Column, sep: Char): Column = {
    require(sep.toInt > 0 && sep.toInt < 0x80, "sentinel must be a single ASCII byte")
    kernel("bpePairs", ArrayType(StructType(Seq(
      StructField("l", StringType, nullable = true),
      StructField("r", StringType, nullable = true))), containsNull = false),
      Seq(seq -> StringType), Seq(Literal(sep.toByte)))
  }

  /** All unordered pairs (a[i], a[j]), i < j, of a SORTED distinct long
    * array — `array<struct<a,b>>`, empty below 2 elements. The basket
    * pair fan-out of q165/q170 as one codegen'd loop (round 20): ascending
    * input means every emitted pair already satisfies a < b, so the
    * explode replaces the capped-basket self-join (`a.l_partkey <
    * b.l_partkey`) with a map-side generator — the join's shuffle of the
    * basket relation disappears and the pair multiset is identical by
    * construction. Bounded: callers cap baskets (≤ 64), so the output is
    * ≤ k·(k−1)/2 structs per row no matter the corpus.
    */
  def sortedPairs(a: Column): Column =
    kernel("sortedPairs", ArrayType(StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))), containsNull = false),
      Seq(a -> ArrayType(LongType)))

  /** Nearest centroid of an embedding against a (cell, c_emb, c_n2) struct
    * array — the map-side argmin that replaces the crossJoin → sort →
    * row_number assignment shuffle (guide §2.4: remove shuffles outright).
    * Scans the centroid array once per row computing the PINNED
    * `(n2 + c_n2) − 2·dotF(emb, c_emb)` distance and keeps the minimum
    * under the exact total order the window version sorted by —
    * `(d2 ASC NULLS FIRST, cell ASC NULLS FIRST)` with Spark's own
    * double comparator — so the selected (cell, d2) pair is bit-identical
    * to `row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1`,
    * with ZERO exchange: the n·k candidate rows never materialize, never
    * sort, never shuffle. Returns NULL for a NULL/empty centroid array
    * (the crossJoin-with-empty-build semantics).
    */
  def nearestCell(emb: Column, n2: Column, cents: Column): Column =
    c(NearestCell(ColumnBridge.expression(emb), ColumnBridge.expression(n2),
      ColumnBridge.expression(cents)))

  /** Byte-alias map: each UTF-8 byte b of the input becomes the single
    * codepoint U+0100 + b. The injective reduction that turns BYTE-LEVEL
    * BPE (GPT-2's variant — arbitrary bytes, no unknown tokens) into
    * ordinary codepoint BPE over a 256-letter alphabet: the existing
    * trainer and [[bpeEncode]] kernel run UNCHANGED on aliased text, and
    * every alias string is valid UTF-8 (Latin Extended A/B), so symbols
    * survive parquet, SQL literals, and the DuckDB oracle. Mirrors
    * GPT-2's printable byte-to-unicode table in spirit; the offset form
    * keeps the inverse a subtraction.
    */
  def byteAlias(text: Column): Column =
    kernel("byteAlias", StringType, Seq(text -> StringType))

  /** Inverse of [[byteAlias]]: alias codepoints back to raw BYTES
    * (BinaryType — the payload need not be valid UTF-8). Null for any
    * codepoint outside U+0100..U+01FF (not an alias string).
    */
  def byteUnalias(aliased: Column): Column =
    kernel("byteUnalias", BinaryType, Seq(aliased -> StringType), returnNullable = true)
}

/** The kernel bodies, static-callable from generated Java
  * (`graft.expressions.KernelOps.dotF(a, b)` — Scala object static
  * forwarders). One tight loop per row; shared by the interpreted and
  * codegen paths.
  */
object KernelOps {

  /** The engine's one bloom filter over 64-bit keys: 4 double-hashed
    * probes of a splitmix64 finalizer into a power-of-two bit array, the
    * mask taken from the array's length. [[BloomBytes]] (64 KiB, ≈ 1.2%
    * false positives at 64k keys) ships q228's membership side as one
    * fixed array, pre-filtering the corpus before the exact-verify join;
    * `FwbFormat.BloomBytes` (32 KiB) sits in every graft-fwb footer, so
    * the hashing must not drift (NativeKernelsSpec pins both sizes' bytes).
    */
  val BloomBytes = 65536
  private val BloomHashes = 4

  private def bloomMix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def bloomMask(bits: Array[Byte]): Int = {
    require(bits.length > 0 && Integer.bitCount(bits.length) == 1,
      s"bloom size must be a power of two, got ${bits.length} bytes")
    bits.length * 8 - 1
  }

  def bloomInsert(bits: Array[Byte], key: Long): Unit = {
    val mask = bloomMask(bits)
    val h = bloomMix(key)
    val h1 = (h >>> 32).toInt
    val h2 = h.toInt | 1 // odd stride: all probes distinct mod 2^k
    var i = 0
    while (i < BloomHashes) {
      val bit = (h1 + i * h2) & mask
      bits(bit >>> 3) = (bits(bit >>> 3) | (1 << (bit & 7))).toByte
      i += 1
    }
  }

  def bloomMightContain(bits: Array[Byte], key: Long): Boolean = {
    val mask = bloomMask(bits)
    val h = bloomMix(key)
    val h1 = (h >>> 32).toInt
    val h2 = h.toInt | 1
    var i = 0
    while (i < BloomHashes) {
      val bit = (h1 + i * h2) & mask
      if ((bits(bit >>> 3) & (1 << (bit & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** HOF-equivalent dot product: NULL (boxed null) when the lengths differ
    * or any element is null — exactly what `aggregate(zip_with(a,b,*),0d,+)`
    * yields (zip_with null-pads the shorter array; a null product poisons
    * the fold). This identity is what makes the AccelerateVectorOps rewrite
    * safe for ANY float-array input, not just well-shaped ones.
    */
  def dotF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Literal single-space split, limit −1 semantics (keeps empty tokens,
    * incl. trailing) — exactly `split(text, " ", -1)`. Splitting on the
    * space BYTE is exact for UTF-8: 0x20 cannot occur inside a multibyte
    * sequence.
    */
  private def splitOnSpace(s: UTF8String): Array[UTF8String] = {
    val bytes = s.getBytes
    var parts = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) parts += 1; i += 1 }
    val out = new Array[UTF8String](parts)
    var start = 0
    var p = 0
    i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' '.toByte) {
        out(p) = UTF8String.fromBytes(bytes, start, i - start)
        p += 1
        start = i + 1
      }
      i += 1
    }
    out
  }

  private def sortedDistinct(a: Array[UTF8String]): GenericArrayData = {
    val distinct = a.distinct
    java.util.Arrays.sort(distinct.asInstanceOf[Array[AnyRef]])
    new GenericArrayData(distinct.asInstanceOf[Array[Any]])
  }

  def wordShingles(s: UTF8String, k: Int): ArrayData = {
    val toks = splitOnSpace(s)
    val sep = UTF8String.fromString(" ")
    val out =
      if (toks.length < k) Array(UTF8String.concatWs(sep, toks: _*))
      else {
        val a = new Array[UTF8String](toks.length - k + 1)
        var i = 0
        while (i < a.length) {
          a(i) = UTF8String.concatWs(sep, toks.slice(i, i + k): _*)
          i += 1
        }
        a
      }
    sortedDistinct(out)
  }

  def wordGrams(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    // `split(s, ' ')` token count = space count + 1 (split keeps empties)
    var ntoks = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) ntoks += 1; i += 1 }
    // < k tokens: concat_ws(" ", split(s, " ")) is the identity — one gram
    // holding the whole text (the shingles() degenerate case)
    if (ntoks < k)
      return new GenericArrayData(Array[Any](UTF8String.fromBytes(bytes, 0, bytes.length)))
    // starts(t) = first byte of token t; sentinel pretends a space follows
    // the last token so every gram ends one byte before a space
    val starts = new Array[Int](ntoks + 1)
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' '.toByte) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(ntoks) = bytes.length + 1
    val out = new Array[Any](ntoks - k + 1)
    var g = 0
    while (g < out.length) {
      val b0 = starts(g)
      out(g) = UTF8String.fromBytes(bytes, b0, starts(g + k) - 1 - b0)
      g += 1
    }
    new GenericArrayData(out)
  }

  def charNgrams(s: UTF8String, n: Int): ArrayData = {
    val len = s.numChars()
    val count = math.max(len - n + 1, 1)
    val a = new Array[UTF8String](count)
    var i = 0
    while (i < count) { a(i) = s.substring(i, math.min(i + n, len)); i += 1 }
    sortedDistinct(a)
  }

  def charNgramHashes(s: UTF8String, n: Int): ArrayData = {
    val len = s.numChars()
    val count = math.max(len - n + 1, 1)
    val h = new Array[Long](count)
    var i = 0
    while (i < count) {
      h(i) = XXH64.hashUTF8String(s.substring(i, math.min(i + n, len)), 42L)
      i += 1
    }
    java.util.Arrays.sort(h)
    // dedupe in place on the sorted array
    var w = 0
    i = 0
    while (i < count) {
      if (w == 0 || h(i) != h(w - 1)) { h(w) = h(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(h, w))
  }

  // Set-semantics kernels treat a null array ELEMENT as absent-from-the-set
  // (count(DISTINCT x) / set-union semantics). Inputs produced by our own
  // shingle kernels are containsNull=false so the isNullAt branch is free;
  // the checks exist so user-supplied arrays (SQL surface, GraftExtensions)
  // can never NPE the generated code.
  private def countNonNull(x: ArrayData): Int = {
    val n = x.numElements()
    var c = 0; var i = 0
    while (i < n) { if (!x.isNullAt(i)) c += 1; i += 1 }
    c
  }

  /** mayNull is the inputs' STATIC containsNull — passed as a codegen-time
    * literal by the expressions, so shingle-kernel outputs (containsNull=
    * false, i.e. every dedup hot path) take the branch-free merge loop and
    * only genuinely nullable user arrays pay the per-element isNullAt.
    */
  def jaccardSorted(x: ArrayData, y: ArrayData, mayNull: Boolean): Double = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0
    if (!mayNull) {
      while (i < nx && j < ny) {
        val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (cmp == 0) { inter += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
      val union = nx + ny - inter
      return if (union == 0) 1.0 else inter.toDouble / union.toDouble
    }
    while (i < nx && j < ny) {
      if (x.isNullAt(i)) i += 1
      else if (y.isNullAt(j)) j += 1
      else {
        val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (cmp == 0) { inter += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    val union = countNonNull(x) + countNonNull(y) - inter
    if (union == 0) 1.0 else inter.toDouble / union.toDouble
  }

  def jaccardSortedLong(x: ArrayData, y: ArrayData, mayNull: Boolean): Double = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0
    if (!mayNull) {
      while (i < nx && j < ny) {
        val xv = x.getLong(i)
        val yv = y.getLong(j)
        if (xv == yv) { inter += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
      val union = nx + ny - inter
      return if (union == 0) 1.0 else inter.toDouble / union.toDouble
    }
    while (i < nx && j < ny) {
      if (x.isNullAt(i)) i += 1
      else if (y.isNullAt(j)) j += 1
      else {
        val xv = x.getLong(i)
        val yv = y.getLong(j)
        if (xv == yv) { inter += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
    }
    val union = countNonNull(x) + countNonNull(y) - inter
    if (union == 0) 1.0 else inter.toDouble / union.toDouble
  }

  def minhashSignature(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        var j = 0
        while (j < k) {
          val h = XXH64.hashUTF8String(s, j.toLong)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Winnowing: rolling polynomial hashes over k-codepoint windows
    * (h·B + c, mod 2³¹ via mask), then per-w-window minima, sorted
    * distinct. Matches the direct per-window polynomial the oracle
    * computes (rolling vs direct evaluation of the same polynomial).
    * Texts shorter than k yield the single hash of the whole text.
    */
  def rollingFingerprints(s: UTF8String, k: Int, w: Int): ArrayData = {
    val str = s.toString
    val n = str.length
    val Mask = (1L << 31) - 1
    val hashes: Array[Long] =
      if (n < k) {
        var h = 0L
        var i = 0
        while (i < n) { h = ((h << 8) + str.charAt(i).toLong) & Mask; i += 1 }
        Array(h)
      } else {
        val out = new Array[Long](n - k + 1)
        // B^(k-1) mod 2^31 for the roll-out term
        var topPow = 1L
        var p = 0
        while (p < k - 1) { topPow = (topPow << 8) & Mask; p += 1 }
        var h = 0L
        var i = 0
        while (i < k) { h = ((h << 8) + str.charAt(i).toLong) & Mask; i += 1 }
        out(0) = h
        i = k
        while (i < n) {
          h = (((h - (str.charAt(i - k).toLong * topPow & Mask)) & Mask) << 8) & Mask
          h = (h + str.charAt(i).toLong) & Mask
          out(i - k + 1) = h
          i += 1
        }
        out
      }
    val nStarts = math.max(hashes.length - w + 1, 1)
    val fps = new Array[Long](nStarts)
    var t = 0
    while (t < nStarts) {
      var m = Long.MaxValue
      var j = t
      val end = math.min(t + w, hashes.length)
      while (j < end) { if (hashes(j) < m) m = hashes(j); j += 1 }
      fps(t) = m
      t += 1
    }
    java.util.Arrays.sort(fps)
    var wr = 0
    t = 0
    while (t < nStarts) {
      if (wr == 0 || fps(t) != fps(wr - 1)) { fps(wr) = fps(t); wr += 1 }
      t += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(fps, wr))
  }

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5 as a long == the high 60 bits of the first
    * 8 digest bytes — identical to Spark's conv(substring(md5(s),1,15),16,10)
    * and DuckDB's CAST('0x'||substr(md5(s),1,15) AS BIGINT).
    */
  private def h60(s: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def featureHashVector(arr: ArrayData, dims: Int): ArrayData = {
    val n = arr.numElements()
    val v = new Array[Float](dims)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = h60(arr.getUTF8String(i))
        val j = (h % dims).toInt           // h60 ≥ 0, so % is the bucket
        val sgn = if (((h >> 59) & 1L) == 1L) 1.0f else -1.0f
        v(j) += sgn                        // counts ≪ 2²⁴ → exact in float
      }
      i += 1
    }
    new GenericArrayData(v)
  }

  def simhash60(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = h60(arr.getUTF8String(i))
        var b = 0
        while (b < 60) {
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** ASCII "mh:<j>:" digest prefixes, cached per j — the md5 input is
    * the BYTE concatenation prefix ++ shingle-UTF-8, so feeding the
    * digest incrementally is bit-identical to hashing the concatenated
    * string while allocating neither the string nor its re-encoded bytes
    * (round-19 optimization: the concat build was ~half the kernel's
    * allocation volume at k=32 per shingle).
    */
  private val mhPrefixes =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Byte]]()
  private def mhPrefix(j: Int): Array[Byte] =
    mhPrefixes.computeIfAbsent(j, jj =>
      ("mh:" + jj + ":").getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  /** Portable MinHash: mins(j) = min over shingles s of
    * h60("mh:<j>:" + s). Unlike [[minhashSignature]] (xxhash64, fast,
    * Spark-only) this derivation is md5-based so a SQL oracle can
    * recompute every value — the cross-engine-verifiable variant used by
    * the corpus-sketch aggregation (q101).
    */
  def minhashPortable(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    val d = md5.get()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val sBytes = arr.getUTF8String(i).getBytes
        var j = 0
        while (j < k) {
          d.reset()
          d.update(mhPrefix(j))
          d.update(sBytes)
          val digest = d.digest()
          var v = 0L
          var b = 0
          while (b < 8) { v = (v << 8) | (digest(b) & 0xffL); b += 1 }
          val h = v >>> 4
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Sign matrix for [[randomProject]]: ±1 from bit 59 of
    * h60("rp:<i>:<j>") — deterministic, engine-independent (the DuckDB
    * oracle recomputes the same md5-derived signs), cached per shape
    * since every row shares the matrix.
    */
  private val rpSigns =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()
  private def rpSignMatrix(inDims: Int, outDims: Int): Array[Double] =
    rpSigns.computeIfAbsent((inDims, outDims), { case (in, out) =>
      val m = new Array[Double](in * out)
      var i = 0
      while (i < in) {
        var j = 0
        while (j < out) {
          val h = h60(UTF8String.fromString(s"rp:$i:$j"))
          m(i * out + j) = if (((h >> 59) & 1L) == 1L) 1.0 else -1.0
          j += 1
        }
        i += 1
      }
      m
    })

  /** Signed random projection (Achlioptas/JL style with ±1 entries):
    * out[j] = Σᵢ xᵢ · sign(i, j), accumulated in double in index order.
    * NULL if any input element is null (projection of an unknown
    * coordinate is unknown).
    */
  def randomProject(arr: ArrayData, outDims: Int): ArrayData = {
    val n = arr.numElements()
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return null; i += 1 }
    val m = rpSignMatrix(n, outDims)
    val out = new Array[Double](outDims)
    i = 0
    while (i < n) {
      val x = arr.getFloat(i).toDouble
      var j = 0
      while (j < outDims) { out(j) += x * m(i * outDims + j); j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** NFD → drop combining marks (Mn/Mc/Me) → per-code-point lowercase →
    * NFC. One pass over the decomposed string; matches utf8proc's
    * strip_accents+lower (the DuckDB oracle) on Latin-script text.
    */
  def foldText(s: UTF8String): UTF8String = {
    import java.text.Normalizer
    val nfd = Normalizer.normalize(s.toString, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    while (i < nfd.length) {
      val cp = nfd.codePointAt(i)
      val t = Character.getType(cp)
      if (t != Character.NON_SPACING_MARK && t != Character.COMBINING_SPACING_MARK &&
          t != Character.ENCLOSING_MARK) {
        sb.appendCodePoint(Character.toLowerCase(cp))
      }
      i += Character.charCount(cp)
    }
    UTF8String.fromString(Normalizer.normalize(sb.toString, Normalizer.Form.NFC))
  }

  /** The BPE apply loop (see [[NativeKernels.bpeEncode]] for the
    * sequential-equivalence argument): split the word into codepoint
    * symbols, repeatedly merge ALL leftmost-non-overlapping occurrences
    * of the lowest-ranked adjacent pair AT OR ABOVE THE RANK FLOOR
    * (exactly `replace`'s scan, each table rank fired at most once, in
    * order), then map symbols to ids — single codepoint → the codepoint
    * (DuckDB `unicode`, surrogate-pair-correct), merged → table id.
    * In-place on one symbol array: no string concatenation until the
    * final merged symbols, no per-iteration allocation. The floor bounds
    * the outer loop at table-size iterations.
    */
  def bpeEncode(lang: UTF8String, word: UTF8String, table: BpeMergeTable): ArrayData = {
    val w = word.toString
    val lt = table.langTable(lang.toString)
    // codepoint split (symbols start as single codepoints)
    var len = w.codePointCount(0, w.length)
    val syms = new Array[String](len)
    var i = 0
    var k = 0
    while (i < w.length) {
      val cc = Character.charCount(w.codePointAt(i))
      syms(k) = w.substring(i, i + cc)
      k += 1
      i += cc
    }
    if (lt != null) {
      // Rank floor: only pairs with rank >= floor are candidates, and the
      // floor advances past every applied rank. This is what makes greedy
      // ≡ sequential (see the scaladoc theorem): a sweep can create NEW
      // occurrences of LOWER-ranked pairs (dual-derivation tables), and
      // sequential apply never revisits a rank it already passed — an
      // unfloored global-min loop would.
      var floor = 0
      var exhausted = false
      while (!exhausted && len >= 2) {
        // lowest-ranked pair present anywhere in the word, at or above floor
        var best = Int.MaxValue
        var j = 0
        while (j < len - 1) {
          val r = lt.rankIndexFrom(syms(j), syms(j + 1), floor)
          if (r < best) best = r
          j += 1
        }
        if (best == Int.MaxValue) exhausted = true
        else {
          val l = lt.leftOf(best)
          val r = lt.rightOf(best)
          val m = lt.mergedOf(best)
          // leftmost non-overlapping merge sweep, compacting in place
          var src = 0
          var dst = 0
          while (src < len) {
            if (src < len - 1 && syms(src).equals(l) && syms(src + 1).equals(r)) {
              syms(dst) = m
              src += 2
            } else {
              syms(dst) = syms(src)
              src += 1
            }
            dst += 1
          }
          len = dst
          // a sweep of rank r removes every occurrence of pair r and
          // cannot create one (merged = left+right differs from both,
          // sides being nonempty) — so rank r is done forever
          floor = best + 1
        }
      }
    }
    val ids = new Array[Long](len)
    var t = 0
    while (t < len) {
      val s = syms(t)
      ids(t) =
        if (s.codePointCount(0, s.length) == 1) s.codePointAt(0).toLong
        else {
          val id = if (lt == null) Long.MinValue else lt.idOf(s)
          // unreachable by construction (multi-codepoint symbols only
          // arise from table merges); fail loudly rather than alias
          if (id == Long.MinValue)
            throw new IllegalStateException(s"bpeEncode: untabled merged symbol '$s'")
          id
        }
      t += 1
    }
    new GenericArrayData(ids)
  }

  /** The [[NativeKernels.bpePairs]] byte walk: symbols lie between
    * sentinel bytes (`·s1··s2·…·sk·`), so adjacent pairs are the spans
    * around each interior double-sentinel. Matches the split+transform
    * recipe on every input it can receive, including the degenerate
    * single-symbol state (empty result).
    */
  def bpePairs(seq: UTF8String, sep: Byte): ArrayData = {
    val bytes = seq.getBytes
    val n = bytes.length
    // boundaries: interior "sep sep" positions split inner into symbols
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    // collect symbol byte-spans of inner = bytes[1, n-1)
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var symStart = 1
    var i = 1
    val last = n - 1
    while (i < last) {
      if (bytes(i) == sep && i + 1 < last && bytes(i + 1) == sep) {
        starts.add(symStart); ends.add(i)
        symStart = i + 2
        i += 2
      } else i += 1
    }
    starts.add(symStart); ends.add(last)
    val k = starts.size()
    if (k < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](k - 1)
    var j = 0
    var prev = UTF8String.fromBytes(bytes, starts.get(0), ends.get(0) - starts.get(0))
    while (j < k - 1) {
      val next = UTF8String.fromBytes(bytes, starts.get(j + 1), ends.get(j + 1) - starts.get(j + 1))
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](prev, next))
      prev = next
      j += 1
    }
    new GenericArrayData(out)
  }

  /** The [[NativeKernels.sortedPairs]] fan-out: all (a[i], a[j]) i<j pairs
    * of a sorted long array. Null ELEMENTS cannot occur in the callers'
    * input (collect_set drops nulls); the loop reads primitives.
    */
  def sortedPairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n * (n - 1) / 2)
    var idx = 0
    var i = 0
    while (i < n - 1) {
      val a = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        out(idx) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](a, arr.getLong(j)))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The [[NativeKernels.nearestCell]] argmin loop. Mirrors the retired
    * window formulation's total order EXACTLY: candidates are compared by
    * (d2 ASC NULLS FIRST, cell ASC NULLS FIRST), d2 compared with Spark's
    * SQLOrderingUtil.compareDoubles (−0.0 = 0.0, NaN greatest — the
    * comparator SortExec used on the d2 column). A null d2 arises exactly
    * where the old projection produced one (null emb/n2/c_emb/c_n2 or a
    * length-mismatched dot) and sorts first, exactly as ASC NULLS FIRST
    * did. Null/empty centroid arrays return null (the caller's build side
    * guarantees non-empty; the crossJoin-with-empty semantics was zero
    * rows).
    */
  def nearestCell(emb: ArrayData, n2: java.lang.Double,
      cents: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    if (cents == null) return null
    val k = cents.numElements()
    if (k == 0) return null
    var found = false
    var bestCellNull = false
    var bestCell = 0L
    var bestD2: java.lang.Double = null
    var i = 0
    while (i < k) {
      if (!cents.isNullAt(i)) {
        val row = cents.getStruct(i, 3)
        val cellNull = row.isNullAt(0)
        val cell = if (cellNull) 0L else row.getLong(0)
        var d2: java.lang.Double = null
        if (emb != null && n2 != null && !row.isNullAt(1) && !row.isNullAt(2)) {
          val dot = dotF(emb, row.getArray(1))
          if (dot != null) {
            // pinned operation order: (n2 + c_n2) − 2·dot — the dist2 recipe
            d2 = java.lang.Double.valueOf(
              (n2.doubleValue() + row.getDouble(2)) - 2.0 * dot.doubleValue())
          }
        }
        val better =
          if (!found) true
          else {
            val dc =
              if (d2 == null && bestD2 == null) 0
              else if (d2 == null) -1
              else if (bestD2 == null) 1
              else org.apache.spark.sql.catalyst.util.SQLOrderingUtil
                .compareDoubles(d2.doubleValue(), bestD2.doubleValue())
            if (dc != 0) dc < 0
            else if (cellNull && bestCellNull) false // equal nulls: keep first
            else if (cellNull) true                  // NULLS FIRST on cell
            else if (bestCellNull) false
            else cell < bestCell
          }
        if (better) { found = true; bestCellNull = cellNull; bestCell = cell; bestD2 = d2 }
      }
      i += 1
    }
    if (!found) return null
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](if (bestCellNull) null else java.lang.Long.valueOf(bestCell), bestD2))
  }

  /** Byte → codepoint-(0x100+b) alias string (see NativeKernels.byteAlias). */
  def byteAlias(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      sb.appendCodePoint(0x100 + (bytes(i) & 0xff))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Alias string → raw bytes; null when any codepoint is not an alias. */
  def byteUnalias(s: UTF8String): Array[Byte] = {
    val str = s.toString
    val out = new Array[Byte](str.codePointCount(0, str.length))
    var i = 0
    var k = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (cp < 0x100 || cp > 0x1ff) return null
      out(k) = (cp - 0x100).toByte
      k += 1
      i += Character.charCount(cp)
    }
    out
  }
}

/** |A∩B| / |A∪B| of two sorted distinct arrays, both of strings or both
  * of longs; the element type picks `KernelOps.jaccardSorted` or
  * `KernelOps.jaccardSortedLong`. A class, not a StaticInvoke, because
  * the kernels' `mayNull` argument is a codegen-time literal taken from
  * the RESOLVED inputs' containsNull (see [[KernelOps.jaccardSorted]]),
  * and a Column builder sees its inputs before analysis resolves them.
  */
case class JaccardSorted(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(l, _), ArrayType(r, _)) if l == r && (l == StringType || l == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"jaccardSorted expects two array<string> or two array<bigint>, got $l, $r")
  }
  override def dataType: DataType = DoubleType
  private lazy val longs: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  private lazy val mayNull: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  })
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (longs) KernelOps.jaccardSortedLong(x, y, mayNull) else KernelOps.jaccardSorted(x, y, mayNull)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val method = if (longs) "jaccardSortedLong" else "jaccardSorted"
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.KernelOps.$method($a, $b, $mayNull)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** struct<cell, d2> of the nearest centroid (see
  * [[NativeKernels.nearestCell]]). A class, not a StaticInvoke, because it
  * is NOT null-intolerant — a null embedding must still yield the
  * (min-cell, null-d2) row the window formulation produced, so this
  * implements eval/doGenCode directly instead of propagating nulls; the
  * result is null ONLY for a null/empty centroid array.
  */
case class NearestCell(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    def is(t: DataType, want: DataType) = DataType.equalsIgnoreNullability(t, want)
    val ok = is(first.dataType, ArrayType(FloatType)) && is(second.dataType, DoubleType) &&
      (third.dataType match {
        case ArrayType(StructType(fields), _) if fields.length == 3 =>
          is(fields(0).dataType, LongType) && is(fields(1).dataType, ArrayType(FloatType)) &&
            is(fields(2).dataType, DoubleType)
        case _ => false
      })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("nearestCell expects array<float>, double, " +
      s"array<struct<cell:bigint,c_emb:array<float>,c_n2:double>>, got " +
      s"${first.dataType}, ${second.dataType}, ${third.dataType}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("cell", LongType, nullable = true),
    StructField("d2", DoubleType, nullable = true)))
  override def nullable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val emb = first.eval(input)
    val n2 = second.eval(input)
    val cents = third.eval(input)
    KernelOps.nearestCell(
      emb.asInstanceOf[ArrayData],
      if (n2 == null) null else java.lang.Double.valueOf(n2.asInstanceOf[Double]),
      cents.asInstanceOf[ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val e1 = first.genCode(ctx)
    val e2 = second.genCode(ctx)
    val e3 = third.genCode(ctx)
    ev.copy(code =
      code"""
        ${e1.code}
        ${e2.code}
        ${e3.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          graft.expressions.KernelOps.nearestCell(
            ${e1.isNull} ? null : ${e1.value},
            ${e2.isNull} ? null : java.lang.Double.valueOf(${e2.value}),
            ${e3.isNull} ? null : ${e3.value});
        boolean ${ev.isNull} = (${ev.value} == null);
      """)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** A trained BPE merge table as a driver-side artifact the
  * [[NativeKernels.bpeEncode]] kernel references: `merges` is (lang,
  * rank, left, right, merged) rows in any order, `idBase` the id offset for merge-created symbols
  * (single-codepoint symbols encode as their codepoint). A case class so
  * two expressions over the same training compare equal under Catalyst
  * canonicalization; the hash-map form rebuilds lazily per JVM
  * (@transient — only the rows travel in the serialized plan).
  */
case class BpeMergeTable(merges: Seq[(String, Long, String, String, String)],
    idBase: Long) {
  @transient private lazy val compiled: java.util.HashMap[String, BpeLangTable] = {
    val m = new java.util.HashMap[String, BpeLangTable]()
    merges.groupBy(_._1).foreach { case (lang, rs) =>
      m.put(lang, new BpeLangTable(rs.sortBy(_._2), idBase))
    }
    m
  }
  /** null when the language has no trained merges (word stays chars). */
  def langTable(lang: String): BpeLangTable = compiled.get(lang)
}

/** Per-language compiled form: nested pair→rank maps (two probes, zero
  * allocation per adjacent-pair test) plus merged-symbol→id with the
  * min-rank rule (two derivations of the same string share one id —
  * mirrors the replace-chain's id-map construction).
  */
final class BpeLangTable(rs: Seq[(String, Long, String, String, String)],
    idBase: Long) {
  private val ranks: Array[Long] = rs.map(_._2).toArray
  private val lefts: Array[String] = rs.map(_._3).toArray
  private val rights: Array[String] = rs.map(_._4).toArray
  private val mergedSyms: Array[String] = rs.map(_._5).toArray
  // (left → right → ascending rank indices): a pair CAN recur at a later
  // rank — a later merge can recreate one of its sides (e.g. (a,ab)→aab
  // swept, then (aa,b)→aab re-creates 'aab' adjacencies) and training may
  // re-select the pair — and the replace chain replays every table row, so
  // the apply loop needs every rank, not just the lowest.
  private val pairRank = new java.util.HashMap[String, java.util.HashMap[String, Array[Int]]]()
  rs.indices.foreach { i =>
    val byRight = pairRank.computeIfAbsent(lefts(i),
      _ => new java.util.HashMap[String, Array[Int]]())
    val prev = byRight.get(rights(i))
    // rs is rank-sorted, so appending keeps each list ascending
    byRight.put(rights(i), if (prev == null) Array(i) else prev :+ i)
  }
  private val mergedIds = new java.util.HashMap[String, java.lang.Long]()
  rs.indices.foreach { i =>
    val id = java.lang.Long.valueOf(idBase + ranks(i))
    val prev = mergedIds.get(mergedSyms(i))
    if (prev == null || id < prev) mergedIds.put(mergedSyms(i), id)
  }

  /** Lowest rank-sorted index of pair (a,b) at or above `floor`, or
    * Int.MaxValue when the pair has no remaining rank. Two hash probes +
    * a scan of the (almost always length-1) rank list, zero allocation.
    */
  def rankIndexFrom(a: String, b: String, floor: Int): Int = {
    val m = pairRank.get(a)
    if (m == null) return Int.MaxValue
    val arr = m.get(b)
    if (arr == null) return Int.MaxValue
    var i = 0
    while (i < arr.length) {
      if (arr(i) >= floor) return arr(i)
      i += 1
    }
    Int.MaxValue
  }
  def leftOf(i: Int): String = lefts(i)
  def rightOf(i: Int): String = rights(i)
  def mergedOf(i: Int): String = mergedSyms(i)
  /** id of a merge-created symbol; MinValue sentinel when unknown (a
    * symbol the loop produced must be in the table by construction). */
  def idOf(sym: String): Long = {
    val v = mergedIds.get(sym)
    if (v == null) Long.MinValue else v.longValue()
  }
}
