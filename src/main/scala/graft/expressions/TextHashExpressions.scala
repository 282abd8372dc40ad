package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused text-shingling expressions.
  *
  * The HOF formulation (sequence → transform → slice → array_join →
  * array_distinct) is interpreted and allocates per shingle; these fuse
  * tokenize → shingle → hash → distinct → sort into one pass per row and
  * represent shingle sets as sorted long arrays. Downstream set ops
  * (Jaccard, MinHash) then run on primitive longs with merge scans — the
  * difference between an interpreted ~5s/5k-docs stage and a negligible
  * one, and at 100 TB the difference between shuffling strings and longs.
  */
object TextHash {

  /** Sorted distinct xxhash64 values of lowercase word n-gram shingles. */
  def shingleHashes(text: Column, n: Int): Column =
    column(ShingleHashes(expression(text), n))

  /** Space-joined adjacent pairs of a string array (bigram surface
    * forms). The HOF spelling — transform(sequence(...), i -> concat)
    * — drops the whole expression tree to interpreted eval (lambda
    * functions are CodegenFallback); this stays inside codegen. */
  def adjacentPairs(toks: Column): Column =
    column(AdjacentPairsExpr(expression(toks)))

  /** Jaccard similarity of two sorted long arrays (merge scan). */
  def jaccardSorted(a: Column, b: Column): Column =
    column(JaccardSorted(expression(a), expression(b)))

  /** Containment |a∩b|/|a| of two sorted long arrays (merge scan). */
  def containmentSorted(a: Column, b: Column): Column =
    column(ContainmentSorted(expression(a), expression(b)))

  /** Thresholded Jaccard: exact value when J ≥ t, −1 as soon as the
    * remaining-overlap upper bound proves J < t. For similarity joins the
    * overwhelming majority of candidate pairs are true negatives, which
    * exit after ~t/(1+t) of the merge instead of scanning both arrays —
    * same surviving pairs, same values, ~10× less merge work at t ≈ 0.1. */
  def jaccardSortedGE(a: Column, b: Column, t: Double): Column =
    column(JaccardSortedGE(expression(a), expression(b), t))

  /** MinHash signature from pre-hashed shingles: hᵢ = h1 + i·h2 with
    * h1 = shingle hash, h2 = splitmix(h1) | 1. */
  def minhashFromHashes(hashes: Column, k: Int): Column =
    column(MinHashFromHashesExpr(expression(hashes), k))

  /** Portable variant of [[shingleHashes]]: shingle hash = first 32 bits
    * of MD5 reduced mod p = 2³¹−1. Any engine with an MD5 function
    * reproduces it exactly (DuckDB: `('0x'||substr(md5(s),1,8))::BIGINT %
    * 2147483647`), which is what makes the MinHash pipeline
    * oracle-checkable cross-engine. */
  def shingleHashes31(text: Column, n: Int): Column =
    column(ShingleHashes31(expression(text), n))

  /** Portable MinHash: hᵢ(h) = (aᵢ·h + bᵢ) mod p over the md5-31 shingle
    * hashes; aᵢ, bᵢ from a fixed LCG so the whole family is plain 64-bit
    * integer arithmetic in any engine (no wraparound anywhere: products
    * stay < 2⁶²). */
  def minhash31(hashes: Column, k: Int): Column =
    column(MinHash31Expr(expression(hashes), k))

  /** Portable SimHash: 64-bit signature over distinct lowercase tokens,
    * bit j of a token = bit (j mod 8) of MD5-digest byte ⌊j/8⌋; returned
    * as a 16-char lowercase hex string so there is no cross-engine signed
    * 64-bit packing to get wrong. */
  def simHash64Hex(text: Column): Column =
    column(SimHash64HexExpr(expression(text)))

  /** Fast (non-portable) SimHash: one fused codegen pass, xxhash64 token
    * family — the throughput path when no cross-engine oracle is
    * needed. */
  def simHash64Fast(text: Column): Column =
    column(SimHash64FastExpr(expression(text)))

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val SPACE = UTF8String.fromString(" ")

  /** Adjacent space-joined pairs of a string array, one pass, no boxing
    * beyond the output UTF8Strings. */
  def adjacentPairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(new Array[AnyRef](0))
    val out = new Array[AnyRef](n - 1)
    var i = 0
    while (i < n - 1) {
      out(i) = UTF8String.concat(arr.getUTF8String(i), SPACE,
        arr.getUTF8String(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  def shingles(text: UTF8String, n: Int): ArrayData = {
    val s = text.toLowerCase.toString.trim
    if (s.isEmpty) return new GenericArrayData(Array.emptyLongArray)
    val toks = s.split("\\s+")
    if (toks.length < n) return new GenericArrayData(Array.emptyLongArray)
    val set = new java.util.TreeSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j)); j += 1
      }
      val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      set.add(XXH64.hashUnsafeBytes(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, 42L))
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator(); var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Exact-above-threshold Jaccard with integer-bound early exit. */
  def jaccardGE(a: ArrayData, b: ArrayData, t: Double): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    val s = na + nb
    // minimal intersection m with m/(s-m) >= t, derived exactly
    var m = math.ceil(t * s / (1.0 + t)).toLong
    while (m > 0 && (m - 1).toDouble / (s - (m - 1)) >= t) m -= 1
    while (m < s && m.toDouble / (s - m) < t) m += 1
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      if (inter + math.min(na - i, nb - j) < m) return -1.0
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    if (inter < m) -1.0 else inter.toDouble / (s - inter)
  }

  /** Containment of sorted set a in sorted set b: |a∩b| / |a| — the
    * ASYMMETRIC near-dup measure (a short doc quoted inside a long one
    * scores ~1.0 where Jaccard stays near |a|/|b|). */
  def containment(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / na
  }

  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  def minhashFrom(hashes: ArrayData, k: Int): ArrayData = {
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < hashes.numElements()) {
      val h1 = hashes.getLong(i)
      val h2 = mix(h1) | 1L
      var h = h1; var j = 0
      while (j < k) {
        if (h < mins(j)) mins(j) = h
        h += h2; j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  // ---- portable (md5-based) family ------------------------------------

  val P31: Long = 2147483647L // 2^31 - 1

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 32 bits of MD5 (big-endian, = first 8 hex chars) mod P31. */
  @inline def md5Hash31(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    val h32 = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    h32 % P31
  }

  def shingles31(text: UTF8String, n: Int): ArrayData = {
    val s = text.toLowerCase.toString.trim
    if (s.isEmpty) return new GenericArrayData(Array.emptyLongArray)
    val toks = s.split("\\s+")
    if (toks.length < n) return new GenericArrayData(Array.emptyLongArray)
    val set = new java.util.TreeSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j)); j += 1
      }
      set.add(md5Hash31(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator(); var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  private val minhashCoeffs =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]

  /** hᵢ = (aᵢ·h + bᵢ) mod P31; aᵢ,bᵢ from fixed LCGs (aᵢ ∈ [1, P31−1]),
    * cached per k — they are pure functions of the constant. */
  def minhash31From(hashes: ArrayData, k: Int): ArrayData = {
    val (as, bs) = minhashCoeffs.computeIfAbsent(k, { _ =>
      val a = new Array[Long](k); val b = new Array[Long](k)
      var j = 0
      while (j < k) {
        a(j) = ((j + 1L) * 1103515245L + 12345L) % (P31 - 1L) + 1L
        b(j) = ((j + 7L) * 69069L + 1L) % P31
        j += 1
      }
      (a, b)
    })
    var j = 0
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < hashes.numElements()) {
      val h = hashes.getLong(i)
      j = 0
      while (j < k) {
        val v = (as(j) * h + bs(j)) % P31
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  private val HEX = "0123456789abcdef".toCharArray

  /** Fast SimHash: bit j of the signature = sign of the ±1 vote sum,
    * over distinct lowercase tokens, of bit j of XXH64(tokenBytes, 42) —
    * the xxhash64 analogue of [[simhash64Hex]] in one fused pass (the
    * per-bit HOF `aggregate()` spelling it replaces planned 64
    * interpreted array traversals per row and measured ~30× slower). */
  def simhash64Fast(text: UTF8String): Long = {
    val s = text.toLowerCase.toString.trim
    val toks = s.split("\\s+")
    val set = new java.util.HashSet[String]()
    var i = 0
    while (i < toks.length) { set.add(toks(i)); i += 1 }
    val acc = new Array[Int](64)
    val it = set.iterator()
    while (it.hasNext) {
      val bytes = it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val h = XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
        j += 1
      }
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (acc(j) >= 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** SimHash over distinct whitespace tokens of the lowercase text; bit j
    * of token = bit (j mod 8) of md5 byte ⌊j/8⌋; output bit j = 1 iff the
    * ±1 vote sum is ≥ 0; bytes rendered high-nibble-first as lowercase
    * hex (the exact mirror of the DuckDB formulation in q29's oracle). */
  def simhash64Hex(text: UTF8String): UTF8String = {
    val s = text.toLowerCase.toString.trim
    val toks = s.split("\\s+")
    val set = new java.util.HashSet[String]()
    var i = 0
    while (i < toks.length) { set.add(toks(i)); i += 1 }
    val acc = new Array[Int](64)
    val md = md5Local.get()
    val it = set.iterator()
    while (it.hasNext) {
      md.reset()
      val d = md.digest(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var j = 0
      while (j < 64) {
        if (((d(j >> 3) >> (j & 7)) & 1) == 1) acc(j) += 1 else acc(j) -= 1
        j += 1
      }
    }
    val out = new Array[Char](16)
    var k = 0
    while (k < 8) {
      var byte = 0
      var m = 0
      while (m < 8) { if (acc(8 * k + m) >= 0) byte |= (1 << m); m += 1 }
      out(2 * k) = HEX((byte >>> 4) & 0xF)
      out(2 * k + 1) = HEX(byte & 0xF)
      k += 1
    }
    UTF8String.fromString(new String(out))
  }
}

case class AdjacentPairsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  // getUTF8String on non-string ArrayData storage crashes or mis-reads
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    TextHash.adjacentPairs(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.TextHash$$.MODULE$$.adjacentPairs($a);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    TextHash.shingles(a.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.TextHash$$.MODULE$$.shingles($a, $n);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  // getLong on non-long ArrayData storage mis-reads silently; require
  // array<long> at analysis time (the IntersectSortedLongs discipline)
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHash.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.TextHash$$.MODULE$$.jaccard($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

case class ContainmentSorted(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  // getLong on non-long ArrayData storage mis-reads silently; require
  // array<long> at analysis time (the IntersectSortedLongs discipline)
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHash.containment(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.TextHash$$.MODULE$$.containment($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

case class MinHashFromHashesExpr(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    TextHash.minhashFrom(a.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.TextHash$$.MODULE$$.minhashFrom($a, $k);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class JaccardSortedGE(left: Expression, right: Expression, t: Double)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHash.jaccardGE(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], t)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.TextHash$$.MODULE$$.jaccardGE($a, $b, $t);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

case class ShingleHashes31(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    TextHash.shingles31(a.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.TextHash$$.MODULE$$.shingles31($a, $n);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class MinHash31Expr(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    TextHash.minhash31From(a.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.TextHash$$.MODULE$$.minhash31From($a, $k);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class SimHash64FastExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any): Any =
    TextHash.simhash64Fast(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.TextHash$$.MODULE$$.simhash64Fast($a);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class SimHash64HexExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(a: Any): Any =
    TextHash.simhash64Hex(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.TextHash$$.MODULE$$.simhash64Hex($a);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
