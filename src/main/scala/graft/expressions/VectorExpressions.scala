package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge.{column, expression}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for dense-vector math over `array<float>`.
  *
  * The higher-order-function formulations (`zip_with` + `aggregate`) are
  * semantically right but evaluate interpreted (ArrayAggregate is
  * CodegenFallback), which dominates ANN runtime. These expressions emit
  * tight primitive loops via `doGenCode`, keeping the hot path inside
  * WholeStageCodegen — the preference order the build calls for: built-in
  * first, custom Expression before any UDF.
  */
object VectorExpressions {
  def dotF(a: Column, b: Column): Column =
    column(FloatVecDot(expression(a), expression(b)))
  def norm2F(a: Column): Column = column(FloatVecNormSq(expression(a)))
  def cosineF(a: Column, b: Column): Column =
    column(FloatVecCosine(expression(a), expression(b)))

  /** Packed random-hyperplane sign bits (LSH bucket key). */
  def hyperplaneBucket(v: Column, nBits: Int, seed: Int): Column =
    column(HyperplaneBucket(expression(v), nBits, seed))

  /** Bucket keys for `nTables` independent hyperplane families in one
    * fused pass — callers posexplode the array, so the corpus is scanned
    * once instead of once per table. */
  def hyperplaneBuckets(v: Column, nBits: Int, nTables: Int, seed: Int): Column =
    column(HyperplaneBuckets(expression(v), nBits, nTables, seed))

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * splitmix64 of (seed, bit, dim) — identical on every executor, no
    * broadcast needed. */
  @inline def component(seed: Int, bit: Int, dim: Int): Double = {
    var z = seed.toLong * 0x9E3779B97F4A7C15L + bit.toLong * 0xBF58476D1CE4E5B9L +
      dim.toLong * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= (z >>> 31)
    (z >>> 11) * (1.0 / (1L << 52)) * 2.0 - 1.0
  }

  /** All product-quantization subspace codes in ONE pass: for each of
    * `numSubspaces` slices of `v`, the argmax-dot codeword index (ties →
    * larger index, matching `array_max(struct(s, i))`). Replaces the
    * 128-node slice+dot+struct expression tree the composed spelling
    * builds — and the per-(mm,ci) slice allocations with zero-copy
    * offset arithmetic. */
  def pqCodesF(v: Column, cb: Array[Float], numSubspaces: Int,
      codebookSize: Int): Column =
    column(PqCodes(expression(v), cb, numSubspaces, codebookSize))

  /** The ADC lookup table for one query vector: entry mm·K+ci =
    * dot(subv(q, mm), codeword(mm, ci)), same layout the composed
    * spelling emits. */
  def pqLutF(q: Column, cb: Array[Float], numSubspaces: Int,
      codebookSize: Int): Column =
    column(PqLut(expression(q), cb, numSubspaces, codebookSize))

  /** ADC score: Σ_mm lut[mm·K + codes[mm]], ascending mm (bit-identical
    * to the `aggregate` fold it replaces — which was CodegenFallback and
    * ran interpreted on every scored row). */
  def pqAdcF(codes: Column, lut: Column, codebookSize: Int): Column =
    column(PqAdc(expression(codes), expression(lut), codebookSize))

  /** Portable (md5-seeded) Rademacher-hyperplane bucket keys: component
    * (t, bit, d) = +1 iff the first hex digit of md5("hp{t}_{bit}_{d}")
    * is < 8. Reproducible in any engine with md5 — the oracle-checkable
    * LSH family (DuckDB mirror: q32's oracle in queries/VectorQueries). */
  def rademacherBuckets(v: Column, nBits: Int, nTables: Int): Column =
    column(RademacherBuckets(expression(v), nBits, nTables))
}

/** Cached ±1 hyperplane matrices for [[RademacherBuckets]] — deterministic
  * functions of (nTables, nBits, dim), so identical on every executor with
  * no broadcast; computed once per JVM. */
object RademacherSigns {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Array[Double]]]]

  def get(nBits: Int, nTables: Int, dim: Int): Array[Array[Array[Double]]] =
    cache.computeIfAbsent((nBits, nTables, dim), { _ =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(nTables, nBits, dim) { (t, b, d) =>
        md.reset()
        val dig = md.digest(s"hp${t}_${b}_${d}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first hex digit < 8 ⇔ high bit of first byte clear
        if ((dig(0) & 0x80) == 0) 1.0 else -1.0
      }
    })

  /** Packed sign-bit bucket per table (bit 0 = MSB), fused single pass. */
  def buckets(x: ArrayData, nBits: Int, nTables: Int): ArrayData = {
    val n = x.numElements()
    val signs = get(nBits, nTables, n)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var bit = 0
      while (bit < nBits) {
        val row = signs(t)(bit)
        var s = 0.0; var i = 0
        while (i < n) { s += x.getFloat(i).toDouble * row(i); i += 1 }
        bucket = (bucket << 1) | (if (s >= 0) 1L else 0L)
        bit += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

case class RademacherBuckets(child: Expression, nBits: Int, nTables: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  // getFloat on non-float ArrayData storage mis-reads silently;
  // implicit cast coerces array<double> literals/columns to float
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    RademacherSigns.buckets(a.asInstanceOf[ArrayData], nBits, nTables)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.RademacherSigns$$.MODULE$$.buckets($a, $nBits, $nTables);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Product-quantization kernels shared by eval and codegen. The codebook
  * travels as ONE flat float array (layout: (mm·K + ci)·ds + t) captured
  * in the expression — a per-plan constant, never a join side. Dot
  * products accumulate double((float)·(float)) ascending t, the exact
  * arithmetic of [[FloatVecDot]], so swapping the composed spelling for
  * these kernels changes no output bit. */
object PqKernel {
  /** argmax-dot code per subspace; ties resolve to the LARGER codeword
    * index (`s >= best` under ascending ci), matching
    * `array_max(array(struct(score, ci)...))`. */
  def codes(v: ArrayData, cb: Array[Float], m: Int, k: Int): ArrayData = {
    val ds = cb.length / (m * k)
    val out = new Array[Int](m)
    var mm = 0
    while (mm < m) {
      var best = Double.NegativeInfinity
      var bestI = 0
      var ci = 0
      while (ci < k) {
        var s = 0.0
        val off = (mm * k + ci) * ds
        var t = 0
        while (t < ds) {
          s += v.getFloat(mm * ds + t).toDouble * cb(off + t).toDouble
          t += 1
        }
        if (s >= best) { best = s; bestI = ci }
        ci += 1
      }
      out(mm) = bestI
      mm += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def lut(q: ArrayData, cb: Array[Float], m: Int, k: Int): ArrayData = {
    val ds = cb.length / (m * k)
    val out = new Array[Double](m * k)
    var mm = 0
    while (mm < m) {
      var ci = 0
      while (ci < k) {
        var s = 0.0
        val off = (mm * k + ci) * ds
        var t = 0
        while (t < ds) {
          s += q.getFloat(mm * ds + t).toDouble * cb(off + t).toDouble
          t += 1
        }
        out(mm * k + ci) = s
        ci += 1
      }
      mm += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def adc(codes: ArrayData, lut: ArrayData, k: Int): Double = {
    var s = 0.0
    var mm = 0
    val m = codes.numElements()
    while (mm < m) { s += lut.getDouble(mm * k + codes.getInt(mm)); mm += 1 }
    s
  }
}

case class PqCodes(child: Expression, cb: Array[Float], numSubspaces: Int,
    codebookSize: Int) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    PqKernel.codes(a.asInstanceOf[ArrayData], cb, numSubspaces, codebookSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", cb, "float[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.PqKernel$$.MODULE$$.codes(" +
        s"$a, $cbRef, $numSubspaces, $codebookSize);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class PqLut(child: Expression, cb: Array[Float], numSubspaces: Int,
    codebookSize: Int) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    PqKernel.lut(a.asInstanceOf[ArrayData], cb, numSubspaces, codebookSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", cb, "float[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.PqKernel$$.MODULE$$.lut(" +
        s"$a, $cbRef, $numSubspaces, $codebookSize);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

case class PqAdc(left: Expression, right: Expression, codebookSize: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  // left: PQ codes (array<int>), right: the query LUT (array<double>)
  override def inputTypes = Seq(ArrayType(IntegerType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    PqKernel.adc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      codebookSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.PqKernel$$.MODULE$$.adc(" +
        s"$a, $b, $codebookSize);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

case class FloatVecNormSq(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  // getFloat on non-float ArrayData storage mis-reads silently;
  // implicit cast coerces array<double> literals/columns to float
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0; var i = 0
    while (i < x.numElements()) {
      val v = x.getFloat(i).toDouble; s += v * v; i += 1
    }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val s = ctx.freshName("s"); val v = ctx.freshName("v")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $v = (double) $a.getFloat($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** cosine(a,b) = dot / (|a|·|b|) in one pass. */
case class FloatVecCosine(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
      d += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val d = ctx.freshName("d"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $d = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $d += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $d / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** [[HyperplaneBucket]] for `nTables` independent families (seed + t):
  * returns array<long> of bucket keys, one per table. */
case class HyperplaneBuckets(child: Expression, nBits: Int, nTables: Int, seed: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var bit = 0
      while (bit < nBits) {
        var s = 0.0; var i = 0
        while (i < x.numElements()) {
          s += x.getFloat(i).toDouble * VectorExpressions.component(seed + t, bit, i)
          i += 1
        }
        bucket = (bucket << 1) | (if (s >= 0) 1L else 0L)
        bit += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cls = "graft.expressions.VectorExpressions$.MODULE$"
      val t = ctx.freshName("t"); val bit = ctx.freshName("bit"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val bucket = ctx.freshName("bucket")
      val out = ctx.freshName("out")
      s"""
         |long[] $out = new long[$nTables];
         |for (int $t = 0; $t < $nTables; $t++) {
         |  long $bucket = 0L;
         |  for (int $bit = 0; $bit < $nBits; $bit++) {
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $a.numElements(); $i++) {
         |      $s += (double) $a.getFloat($i) * $cls.component($seed + $t, $bit, $i);
         |    }
         |    $bucket = ($bucket << 1) | ($s >= 0 ? 1L : 0L);
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** All `nBits` hyperplane sign bits of a vector, packed into a long —
  * the LSH bucket key computed in a single fused loop. Hyperplane
  * components come from a splitmix64 of (seed, bit, dim): deterministic,
  * identical across executors, nothing broadcast. */
case class HyperplaneBucket(child: Expression, nBits: Int, seed: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType))
  require(nBits <= 63, "bucket must fit a long")
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var bucket = 0L
    var bit = 0
    while (bit < nBits) {
      var s = 0.0; var i = 0
      while (i < x.numElements()) {
        s += x.getFloat(i).toDouble * VectorExpressions.component(seed, bit, i)
        i += 1
      }
      bucket = (bucket << 1) | (if (s >= 0) 1L else 0L)
      bit += 1
    }
    bucket
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cls = VectorExpressions.getClass.getName.stripSuffix("$") + "$.MODULE$"
      val bit = ctx.freshName("bit"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val bucket = ctx.freshName("bucket")
      s"""
         |long $bucket = 0L;
         |for (int $bit = 0; $bit < $nBits; $bit++) {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    $s += (double) $a.getFloat($i) * $cls.component($seed, $bit, $i);
         |  }
         |  $bucket = ($bucket << 1) | ($s >= 0 ? 1L : 0L);
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
