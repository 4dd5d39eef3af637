package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels called from both interpreted eval and generated code.
  * Loops run in index order, so double arithmetic is bit-identical to the
  * DuckDB oracle's ordered unnest formulation. */
object ExprKernels {

  private val P = TextHash.MinHashP
  private val K = 16
  private val A: Array[Long] = Array.tabulate(K)(h => ((h * 2654435761L) % 1000003L) * 2 + 1)
  private val B: Array[Long] = Array.tabulate(K)(h => h * 40503L + 17L)

  private val W: Array[Long] = TextHash.PosW.toArray

  /** Polynomial char sum starting at cycle phase `phase` (chars indexed by
    * UTF-16 unit — identical to per-character indexing for BMP text; the
    * oracle corpus is ASCII). */
  private def polysum(str: String, phase: Int): Long = {
    var sum = 0L
    var i = 0
    while (i < str.length) {
      sum += str.charAt(i).toLong * W((phase + i) % 8)
      i += 1
    }
    sum
  }

  /** Same value as [[TextHash.tokval]]: Knuth-scrambled polynomial char
    * hash mod 2^31-1. */
  def tokval(s: UTF8String): Long =
    ((polysum(s.toString, 0) % P) * 2654435761L) % P

  /** Token arrays with NULL ELEMENTS: skip them (the declared semantics
    * everywhere else — concat_ws, shingles3 — and
    * these kernels are registered as session SQL functions, so arbitrary
    * arrays reach them). nullSafeEval guards only a null ARRAY; without
    * this, `minhash_sig(array('a', NULL))` NPEs the whole job. Fast path
    * (no nulls, the split() case) returns the input untouched. */
  private def skipNulls(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var i = 0
    var hasNull = false
    while (i < n && !hasNull) { hasNull = arr.isNullAt(i); i += 1 }
    if (!hasNull) arr
    else {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
      i = 0
      while (i < n) { if (!arr.isNullAt(i)) buf += arr.getUTF8String(i); i += 1 }
      new GenericArrayData(buf.toArray)
    }
  }

  /** One-pass 16-permutation MinHash over the 3-token shingles of a token
    * array, without materializing shingle strings: the shingle's
    * polynomial char hash decomposes by position phase (each token's char
    * sum is precomputed under all 8 weight phases), and min over the
    * shingle multiset equals min over the distinct set — so the shingle
    * loop is pure arithmetic while exactly matching
    * tokval("wᵢ wᵢ₊₁ wᵢ₊₂"). Returns an empty array for docs with fewer
    * than 3 tokens. */
  def minhashShingleSig(toks0: ArrayData): ArrayData = {
    val toks = skipNulls(toks0)
    val n = toks.numElements()
    if (n < 3) return new GenericArrayData(Array.emptyLongArray)
    // The shingle's polynomial hash decomposes by position phase: each
    // token's char sum is precomputed under all 8 weight phases, so the
    // shingle loop is pure arithmetic (no string re-scans, no shingle
    // strings materialized) while exactly matching polysum("w1 w2 w3").
    val phases = Array.ofDim[Long](n, 8)
    val lens = new Array[Int](n)
    var i = 0
    while (i < n) {
      val str = toks.getUTF8String(i).toString
      lens(i) = str.length
      var ph = 0
      while (ph < 8) { phases(i)(ph) = polysum(str, ph); ph += 1 }
      i += 1
    }
    val mins = Array.fill(K)(Long.MaxValue)
    i = 0
    while (i <= n - 3) {
      val l1 = lens(i); val l2 = lens(i + 1)
      // "w1 w2 w3": w1 at phase 0; space at 1-based pos l1+1 → weight
      // W(l1 % 8); w2 starts phase (l1+1) % 8; second space weight
      // W((l1+l2+1) % 8); w3 starts phase (l1+l2+2) % 8.
      val poly = phases(i)(0) +
        32L * W(l1 % 8) +
        phases(i + 1)((l1 + 1) % 8) +
        32L * W((l1 + l2 + 1) % 8) +
        phases(i + 2)((l1 + l2 + 2) % 8)
      val tv = ((poly % P) * 2654435761L) % P
      var h = 0
      while (h < K) {
        val v = (A(h) * tv + B(h)) % P
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Fused char-trigram MinHash band keys — the per-row signature kernel
    * of the CDC index family ([[graft.store.ChangeFeedQuery.bucketRows]]).
    * One pass over the key string computes every trigram's tokval ONCE and
    * folds it into all four permutation minima; the higher-order-function
    * formulation this replaces inlined the `transform(tris, tokval)` array
    * into each of four separate `aggregate` lambdas, re-running the
    * per-character polynomial hash 4× per trigram, interpreted. Exact
    * trigram tokval: polysum of a 3-char token is c₁·W(0)+c₂·W(1)+c₃·W(2)
    * (phases 0,1,2 — no wraparound at length 3), and min over the trigram
    * MULTISET equals min over the distinct set, so `array_distinct` is
    * dropped without changing any minimum. Returns, for `bands == 2`, the
    * two packed base-P band keys `[sig0·P+sig1, sig2·P+sig3]`; for
    * `bands == 4`, the four raw signatures — exactly the bkey values the
    * HOF form produced (same A/B constants, same P init). Characters are
    * code points, as in the HOF form (`length`/`substring`/`ascii`) and
    * the DuckDB oracle (`unicode()`): a supplementary-plane character is
    * one character, never two surrogate halves. Strings shorter than 3
    * characters return an empty array (callers filter them anyway). */
  def trigramBandKeys(s: UTF8String, bands: Int): ArrayData = {
    val str = s.toString
    val n = str.length
    val m0 = P; var min0 = m0; var min1 = m0; var min2 = m0; var min3 = m0
    val a0 = A(0); val a1 = A(1); val a2 = A(2); val a3 = A(3)
    val b0 = B(0); val b1 = B(1); val b2 = B(2); val b3 = B(3)
    // sliding window over code points: c1, c2 precede the current c3
    var c1 = 0L; var c2 = 0L
    var seen = 0
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      seen += 1
      if (seen >= 3) {
        val poly = c1 + c2 * 31L + cp.toLong * 961L
        val tv = ((poly % P) * 2654435761L) % P
        val v0 = (a0 * tv + b0) % P; if (v0 < min0) min0 = v0
        val v1 = (a1 * tv + b1) % P; if (v1 < min1) min1 = v1
        val v2 = (a2 * tv + b2) % P; if (v2 < min2) min2 = v2
        val v3 = (a3 * tv + b3) % P; if (v3 < min3) min3 = v3
      }
      c1 = c2; c2 = cp
    }
    if (seen < 3) new GenericArrayData(Array.emptyLongArray)
    else if (bands == 2) new GenericArrayData(Array(min0 * P + min1, min2 * P + min3))
    else new GenericArrayData(Array(min0, min1, min2, min3))
  }

  /** Exact distinct-3-gram Jaccard between two token arrays (the LSH
    * verification kernel): builds the shingle string sets exactly as the
    * relational formulation does. */
  def jaccardShingles(a0: ArrayData, b0: ArrayData): Double = {
    val a = skipNulls(a0); val b = skipNulls(b0)
    def shingleSet(t: ArrayData): java.util.HashSet[String] = {
      val s = new java.util.HashSet[String]()
      val n = t.numElements()
      var i = 0
      while (i <= n - 3) {
        s.add(t.getUTF8String(i).toString + " " + t.getUTF8String(i + 1).toString +
          " " + t.getUTF8String(i + 2).toString)
        i += 1
      }
      s
    }
    val sa = shingleSet(a); val sb = shingleSet(b)
    var inter = 0
    val it = sb.iterator()
    while (it.hasNext) if (sa.contains(it.next())) inter += 1
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Exact Jaccard of two SORTED, DISTINCT long arrays by linear merge —
    * the per-pair verify kernel for similarity joins once each side's
    * shingle set has been hashed and sorted ONCE per document (vs
    * [[jaccardShingles]], which rebuilds two string hash-sets per PAIR:
    * a doc in k candidate pairs pays k rebuilds there, one here; measured
    * ~40× on the 10× near-dup corpus where pairs ≫ docs). Exactness is
    * conditional on the 64-bit shingle hash being injective on the
    * corpus, which the caller certifies with one aggregate
    * (countDistinct(shingle) == countDistinct(hash)) and falls back to
    * the string kernel otherwise. */
  def jaccardSortedLongs(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = n + m - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Unicode canonical composition (NFC) — the text-normalization step a
    * multilingual corpus needs before ANY exact-match op (dedup keys,
    * needle scans, token counts): the same visible text arrives from
    * different sources as precomposed codepoints or base+combining-mark
    * sequences, and byte-level equality misses the equivalence. JDK
    * `java.text.Normalizer` is the engine; compatibility forms (NFKC —
    * ligatures, fullwidth) are a separate, lossier choice exposed as its
    * own function. */
  def nfcNormalize(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))

  def nfkcNormalize(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFKC))

  /** One-pass 16-permutation MinHash over a string array. */
  def minhashSig(arr0: ArrayData): ArrayData = {
    val arr = skipNulls(arr0)
    val mins = Array.fill(K)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val tv = tokval(arr.getUTF8String(i))
      var h = 0
      while (h < K) {
        val v = (A(h) * tv + B(h)) % P
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** 8-plane random-hyperplane LSH bucket over a float array. Plane
    * weights are the same integer pseudo-randoms the DuckDB oracle
    * derives: w(j,d) = ((j*64+d) * 2654435761) % 2000003 - 1000001 with
    * 1-based d. */
  def lshBucket(v: ArrayData): Long = {
    val n = v.numElements()
    var bucket = 0L
    var j = 0
    while (j < 8) {
      var sdot = 0.0
      var d = 0
      while (d < n) {
        val wt = (((j * 64 + d + 1).toLong * 2654435761L) % 2000003L - 1000001L).toDouble
        sdot += v.getFloat(d).toDouble * wt
        d += 1
      }
      if (sdot > 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  /** Fused cosine similarity over two float arrays, accumulating in double
    * in index order (dot and both norms in a single pass). */
  /** 16-bit SimHash over a token array: token value tv (= [[tokval]])
    * contributes +1 to bit-plane j when (tv·(2j+3)) mod 2^16 lands in the
    * upper half, else −1; bit j is set iff its contribution sum is
    * positive. Bit-for-bit the HOF formulation q27 previously inlined
    * (16 interpreted aggregate lambdas per row) — here one compiled pass
    * hashing each token once. */
  def simhash16(toks0: ArrayData): Long = {
    val toks = skipNulls(toks0)
    val n = toks.numElements()
    val sums = new Array[Long](16)
    var i = 0
    while (i < n) {
      val tv = tokval(toks.getUTF8String(i))
      var j = 0
      while (j < 16) {
        sums(j) += (if ((tv * (2 * j + 3)) % 65536 >= 32768) 1L else -1L)
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 16) {
      if (sums(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** 60-bit SimHash over a token array — [[simhash16]]'s rule extended to
    * 60 bit-planes (plane j uses multiplier 2j+3, j < 60; 60 = 6 disjoint
    * 10-bit bands for Hamming-band blocking, and 1L<<59 keeps the packed
    * value positive). One compiled pass; each token is hashed once and
    * its value reused across all planes. */
  def simhash60(toks0: ArrayData): Long = {
    val toks = skipNulls(toks0)
    val n = toks.numElements()
    val sums = new Array[Long](60)
    var i = 0
    while (i < n) {
      val tv = tokval(toks.getUTF8String(i))
      var j = 0
      while (j < 60) {
        sums(j) += (if ((tv * (2 * j + 3)) % 65536 >= 32768) 1L else -1L)
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) {
      if (sums(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** 8-component Johnson–Lindenstrauss projection with Achlioptas ±1
    * signs: y_j = Σ_d v[d]·s(j,d), s(j,d) = +1 iff
    * ((j·64+d)·2654435761) mod 2000003 ≥ 1000001 (1-based d). One
    * compiled pass, accumulation in ascending-d order — bit-identical to
    * the HOF formulation q155 gates (`PropertySpec` pins equivalence). */
  def jlProject8(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Double](8)
    var j = 0
    while (j < 8) {
      var acc = 0.0
      var d = 1
      while (d <= n) {
        val s = if (((j * 64 + d).toLong * 2654435761L) % 2000003L >= 1000001L) 1.0 else -1.0
        acc += v.getFloat(d - 1).toDouble * s
        d += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Argmax-cosine centroid id over `cents` =
    * array<struct<c_id:long, ce:array<float>>>: the whole k-way scoring
    * loop in one compiled call — no join rows exist at all. Per-element
    * arithmetic and accumulation order are identical to [[cosine]] with
    * the vector as the LEFT argument, and the tie rule (max cosine, ties →
    * min c_id; NaN sorts greatest, as in Spark/DuckDB ordering) matches
    * the relational argmax-struct formulation bit-for-bit. Returns -1 for
    * an empty centroid set. */
  def nearestCell(v: ArrayData, cents: ArrayData): Long = {
    val n = v.numElements()
    var nv = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i).toDouble; nv += x * x; i += 1 }
    val nvs = math.sqrt(nv)
    var bestId = -1L
    var bestCos = Double.NegativeInfinity
    var first = true
    val k = cents.numElements()
    var c = 0
    while (c < k) {
      val st = cents.getStruct(c, 2)
      val cid = st.getLong(0)
      val ce = st.getArray(1)
      val m = math.min(n, ce.numElements())
      var dot = 0.0; var nc = 0.0
      var d = 0
      while (d < m) {
        val x = v.getFloat(d).toDouble
        val y = ce.getFloat(d).toDouble
        dot += x * y; nc += y * y
        d += 1
      }
      // cosine() truncates ALL THREE accumulators to the common prefix;
      // when a centroid is shorter than the vector the precomputed
      // full-length norm would diverge from it, so recompute over m
      val nvsPair =
        if (m == n) nvs
        else {
          var nvp = 0.0; var e = 0
          while (e < m) { val x = v.getFloat(e).toDouble; nvp += x * x; e += 1 }
          math.sqrt(nvp)
        }
      val cosRaw = dot / (nvsPair * math.sqrt(nc))
      // NaN (zero-norm side) must outrank all finite cosines, like it does
      // under Spark's and DuckDB's descending sort
      val cos = if (java.lang.Double.isNaN(cosRaw)) Double.PositiveInfinity else cosRaw
      if (first || cos > bestCos || (cos == bestCos && cid < bestId)) {
        bestCos = cos; bestId = cid; first = false
      }
      c += 1
    }
    bestId
  }

  /** Content-defined chunk decomposition (q212): boundary after char i
    * (1-based, i ≥ 4) when the base-31 polynomial of the last 4 chars
    * ≡ 0 (mod 16); the final position always closes the last chunk, and
    * a length-0 string yields one empty chunk — identical edge algebra
    * to `array_distinct(concat(boundaries, array(len)))`. Chars are
    * UTF-16 units like [[polysum]] (identical to per-character indexing
    * for BMP text; the oracle corpus is ASCII). Long arithmetic so
    * supplementary-plane code units can't wrap the polynomial. */
  def cdcChunks(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    if (n == 0) out += UTF8String.fromString("")
    var start = 0
    var i = 0
    while (i < n) {
      val boundary = i >= 3 &&
        ((str.charAt(i - 3).toLong * 29791 + str.charAt(i - 2).toLong * 961 +
          str.charAt(i - 1).toLong * 31 + str.charAt(i).toLong) % 16) == 0
      if (boundary || i == n - 1) {
        out += UTF8String.fromString(str.substring(start, i + 1))
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** MinHash signature as a native Catalyst expression (SURVEY.md §7.3: the
  * one Tier C operator where built-ins can't express the semantics
  * efficiently — a higher-order-function formulation runs interpreted, an
  * explode formulation shuffles). One compiled pass, map-only.
  */
case class MinHashSigExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ExprKernels.minhashSig(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.minhashSig($c)")
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** MinHash signature over 3-token shingles of a token array, shingling
  * fused into the hash loop (no shingle strings materialized). */
case class MinHashShingleSigExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ExprKernels.minhashShingleSig(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.minhashShingleSig($c)")
  override protected def withNewChildInternal(c: Expression): MinHashShingleSigExpr = copy(child = c)
  override def prettyName: String = "minhash_shingle_sig"
}

/** Char-trigram MinHash band keys of a key string, the whole signature
  * (trigram loop × 4 permutations × band packing) fused into one compiled
  * pass — see [[ExprKernels.trigramBandKeys]]. */
case class TrigramBandKeysExpr(child: Expression, bands: Int) extends UnaryExpression {
  // only the 2- and 4-band packings exist in the kernel; any other value
  // would silently take the 4-signature branch and return a wrong-shaped
  // signature (bucketRows validates too, but the expression is
  // constructible directly — fail loudly at construction)
  require(bands == 2 || bands == 4, s"bands must be 2 or 4, got $bands")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ExprKernels.trigramBandKeys(v.asInstanceOf[UTF8String], bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.trigramBandKeys($c, $bands)")
  override protected def withNewChildInternal(c: Expression): TrigramBandKeysExpr = copy(child = c)
  override def prettyName: String = "trigram_band_keys"
}

/** Exact distinct-3-gram Jaccard between two token arrays. */
case class JaccardShinglesExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.jaccardShingles(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprKernels.jaccardShingles($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardShinglesExpr =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_shingles"
}

/** Unicode NFC normalization of a string column (JDK Normalizer). */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    ExprKernels.nfcNormalize(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.nfcNormalize($c)")
  override protected def withNewChildInternal(c: Expression): NfcNormalizeExpr = copy(child = c)
  override def prettyName: String = "nfc_normalize"
}

/** Unicode NFKC (compatibility) normalization of a string column. */
case class NfkcNormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    ExprKernels.nfkcNormalize(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.nfkcNormalize($c)")
  override protected def withNewChildInternal(c: Expression): NfkcNormalizeExpr = copy(child = c)
  override def prettyName: String = "nfkc_normalize"
}

/** Exact Jaccard between two sorted, distinct long arrays (see
  * [[ExprKernels.jaccardSortedLongs]] for the contract and the exactness
  * certificate the caller owes). */
case class JaccardSortedLongsExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.jaccardSortedLongs(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprKernels.jaccardSortedLongs($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSortedLongsExpr =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_sorted_longs"
}

/** Random-hyperplane LSH bucket id (8 planes packed to a long) over
  * ArrayType(FloatType). */
case class LshBucketExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    ExprKernels.lshBucket(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.lshBucket($c)")
  override protected def withNewChildInternal(c: Expression): LshBucketExpr = copy(child = c)
  override def prettyName: String = "lsh_bucket"
}

/** 16-bit SimHash of a token array, all bit-planes fused into one
  * compiled pass (the HOF form runs 16 interpreted aggregate lambdas,
  * re-walking the token-value array per plane). */
case class SimHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    ExprKernels.simhash16(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.simhash16($c)")
  override protected def withNewChildInternal(c: Expression): SimHashExpr = copy(child = c)
  override def prettyName: String = "simhash16"
}

/** 60-bit SimHash of a token array (see [[ExprKernels.simhash60]]) — the
  * Hamming-band near-dup signature; 16-bit [[SimHashExpr]] stays as the
  * compact per-doc fingerprint. */
case class SimHash60Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    ExprKernels.simhash60(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.simhash60($c)")
  override protected def withNewChildInternal(c: Expression): SimHash60Expr = copy(child = c)
  override def prettyName: String = "simhash60"
}

/** Fused 8-component JL projection (see [[ExprKernels.jlProject8]]) over
  * ArrayType(FloatType) — the scale path for q155's per-plane HOF
  * aggregates (64 interpreted lambdas per row become one compiled call). */
case class JlProjectExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ExprKernels.jlProject8(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.jlProject8($c)")
  override protected def withNewChildInternal(c: Expression): JlProjectExpr = copy(child = c)
  override def prettyName: String = "jl_project8"
}

/** Fused cosine similarity (dot + both norms in one compiled pass) over
  * ArrayType(FloatType) embeddings — replaces three interpreted
  * higher-order aggregates. */
case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprKernels.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Nearest-centroid assignment (argmax cosine, ties → min c_id) of a
  * float vector against a literal centroid set — the IVF/k-means cell
  * assignment as one compiled scalar call per row: no n·k join rows, no
  * shuffle, the index build runs at scan speed. */
case class NearestCellExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any, c: Any): Any =
    ExprKernels.nearestCell(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprKernels.nearestCell($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCellExpr =
    copy(left = l, right = r)
  override def prettyName: String = "nearest_cell"
}

/** Column-API and SQL surface for the native expressions. */
/** CDC chunk decomposition (see [[ExprKernels.cdcChunks]]) as a native
  * expression: the higher-order-function formulation (filter/transform
  * lambdas over a per-char split array) runs interpreted per element —
  * one compiled pass per row here. */
case class CdcChunksExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ExprKernels.cdcChunks(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.cdcChunks($c)")
  override protected def withNewChildInternal(c: Expression): CdcChunksExpr = copy(child = c)
  override def prettyName: String = "cdc_chunks"
}

object GraftFunctions {
  import org.apache.spark.sql.graftshim.Shim.{column, expression}

  def minhash_sig(c: Column): Column = column(MinHashSigExpr(expression(c)))
  def cdc_chunks(c: Column): Column = column(CdcChunksExpr(expression(c)))
  def minhash_shingle_sig(c: Column): Column = column(MinHashShingleSigExpr(expression(c)))
  def jaccard_shingles(a: Column, b: Column): Column =
    column(JaccardShinglesExpr(expression(a), expression(b)))
  def jaccard_sorted_longs(a: Column, b: Column): Column =
    column(JaccardSortedLongsExpr(expression(a), expression(b)))
  def nfc_normalize(c: Column): Column = column(NfcNormalizeExpr(expression(c)))
  def nfkc_normalize(c: Column): Column = column(NfkcNormalizeExpr(expression(c)))
  def cosine_sim(a: Column, b: Column): Column =
    column(CosineSimExpr(expression(a), expression(b)))
  def lsh_bucket(c: Column): Column = column(LshBucketExpr(expression(c)))
  def simhash16(c: Column): Column = column(SimHashExpr(expression(c)))
  def simhash60(c: Column): Column = column(SimHash60Expr(expression(c)))
  def jl_project8(c: Column): Column = column(JlProjectExpr(expression(c)))
  def nearest_cell(v: Column, cents: Column): Column =
    column(NearestCellExpr(expression(v), expression(cents)))

  /** The SQL name, expression class and builder of every native
    * function: the one list [[register]] and [[GraftExtensions]] install. */
  val sqlFunctions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    fn("minhash_sig")(es => MinHashSigExpr(es.head)),
    fn("cdc_chunks")(es => CdcChunksExpr(es.head)),
    fn("minhash_shingle_sig")(es => MinHashShingleSigExpr(es.head)),
    fn("jaccard_shingles")(es => JaccardShinglesExpr(es(0), es(1))),
    fn("jaccard_sorted_longs")(es => JaccardSortedLongsExpr(es(0), es(1))),
    fn("nfc_normalize")(es => NfcNormalizeExpr(es.head)),
    fn("nfkc_normalize")(es => NfkcNormalizeExpr(es.head)),
    fn("cosine_sim")(es => CosineSimExpr(es(0), es(1))),
    fn("lsh_bucket")(es => LshBucketExpr(es.head)),
    fn("simhash16")(es => SimHashExpr(es.head)),
    fn("simhash60")(es => SimHash60Expr(es.head)),
    fn("jl_project8")(es => JlProjectExpr(es.head)),
    fn("nearest_cell")(es => NearestCellExpr(es(0), es(1))))

  private def fn[E <: Expression](name: String)(b: Seq[Expression] => E)(
      implicit cls: scala.reflect.ClassTag[E]): (String, Class[_], Seq[Expression] => Expression) =
    (name, cls.runtimeClass, b)

  /** Register SQL names in a session (for spark.sql users). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlFunctions.foreach { case (name, _, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "scala_udf")
    }
}

/** spark.sql.extensions entry point: injects the native functions into any
  * session built with `.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach { case (name, cls, b) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), b))
    }
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.RangeBandRewrite)
    e.injectOptimizerRule(_ => graft.plans.RollupRoute)
  }
}
