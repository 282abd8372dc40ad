package graft

import graft.expressions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

/** SparkSessionExtensions entry point: exposes the engine's native
  * Catalyst expressions to SQL users, so
  * `spark.sql("SELECT cosine_f(a, b) …")` plans the same codegen'd
  * operators the DataFrame API uses, and installs the engine's rules at
  * four tiers: optimizer (`ArgmaxWindowRewrite`), planner strategy
  * (`GraftStrategy`), physical plan (`HoistLiterals`, through the
  * columnar-rule hook: it runs before whole-stage codegen with and
  * without AQE, where a post-planner strategy rule runs only inside
  * adaptive plans) and adaptive query-stage preparation
  * (`OnePartitionSort`: a global sort whose input fits one advisory-size
  * partition sorts in one partition, with no sample job).
  *
  * `GraftSession.builder` installs it. Register it elsewhere with
  * `withExtensions(new GraftExtensions)` on a session builder, or with
  * spark.sql.extensions=graft.GraftExtensions. A session built that way
  * keeps Spark's codegen cache of 100 classes unless it sets
  * `spark.sql.codegen.cache.maxEntries` itself (see
  * `GraftSession.CodegenCacheEntries`), so a large query set evicts its
  * own classes, and keeps stage ids in class names
  * (`spark.sql.codegen.useIdInClassName`), so a pipeline that AQE numbers
  * differently compiles again. The cap is JVM-wide and fixed at the JVM's
  * first codegen, which is why an extension cannot set it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$name expects a literal int, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Optimizer tier: per-group top-1 windows become partial-aggregable
    // struct extrema (O(groups) shuffle instead of O(rows) — see
    // graft.plans.ArgmaxWindowRewrite).
    ext.injectOptimizerRule(_ => graft.plans.ArgmaxWindowRewrite)
    // Strategy tier: custom whole-operator physical planning (broadcast
    // as-of join — see graft.plans.BroadcastAsOfJoin).
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
    // Physical tier: filter literals leave the generated source, so
    // per-call bounds reuse compiled classes (graft.plans.HoistLiterals).
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = graft.plans.HoistLiterals
    })
    // Query-stage preparation tier: a small global sort's range exchange
    // takes one partition, so RangePartitioner runs no sample job
    // (graft.plans.OnePartitionSort).
    ext.injectQueryStagePrepRule(_ => graft.plans.OnePartitionSort)

    def register(name: String, builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.expressions", name), builder))

    register("cosine_f", args => FloatVecCosine(args(0), args(1)))
    register("dot_f", args => FloatVecDot(args(0), args(1)))
    register("norm_sq_f", args => FloatVecNormSq(args(0)))
    register("hyperplane_bucket", args =>
      HyperplaneBucket(args(0), intArg(args(1), "nBits"), intArg(args(2), "seed")))
    register("shingle_hashes", args =>
      ShingleHashes(args(0), intArg(args(1), "n")))
    register("jaccard_sorted", args => JaccardSorted(args(0), args(1)))
    register("minhash_sig", args =>
      MinHashFromHashesExpr(args(0), intArg(args(1), "k")))
    register("minhash_overlap", args => SigOverlapExpr(args(0), args(1)))
    // portable (md5-based) family — reproducible in any engine with md5
    register("shingle_hashes31", args =>
      ShingleHashes31(args(0), intArg(args(1), "n")))
    register("minhash_sig31", args =>
      MinHash31Expr(args(0), intArg(args(1), "k")))
    register("simhash_hex", args => SimHash64HexExpr(args(0)))
    register("jaccard_ge", args => JaccardSortedGE(args(0), args(1), args(2) match {
      // SQL `0.4` parses as a Decimal literal, `0.4D` as Double — take
      // any foldable numeric literal
      case Literal(v: Double, _) => v
      case Literal(v: Float, _) => v.toDouble
      case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
      case Literal(v: Int, _) => v.toDouble
      case Literal(v: Long, _) => v.toDouble
      case other => throw new IllegalArgumentException(
        s"jaccard_ge expects a literal numeric threshold, got $other")
    }))
    register("rademacher_buckets", args =>
      RademacherBuckets(args(0), intArg(args(1), "nBits"), intArg(args(2), "nTables")))
    // sorted-array merge-scan family (dedup/containment joins)
    register("containment_sorted", args => ContainmentSorted(args(0), args(1)))
    register("intersect_sorted", args => IntersectSortedLongs(args(0), args(1)))
    register("adjacent_pairs", args => AdjacentPairsExpr(args(0)))
    // sketch constructor: the portable 32-bit uniform hash every sketch
    // in operators/Sketch builds on (KMV bottom-k via topk_pairs; HLL
    // bucket/rho via built-in shiftright/bin) — registering the hash
    // makes the whole KMV/HLL construction writable in pure SQL. The
    // tree mirrors Sketch.md5Uniform32 exactly:
    // conv(substring(md5(cast(cast(x as string) as binary)), 1, 8), 16, 10)::long
    register("md5_uniform32", args => {
      import org.apache.spark.sql.catalyst.expressions.{Conv, Md5, Substring}
      import org.apache.spark.sql.catalyst.expressions.Cast
      import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
      Cast(
        Conv(
          Substring(
            Md5(Cast(Cast(args(0), StringType), BinaryType)),
            Literal(1), Literal(8)),
          Literal(16), Literal(10)),
        LongType)
    })
    // int8-embedding Gram accumulator (q140's TypedImperativeAggregate)
    register("gram_upper_triangle", args =>
      GramUpperTriangleAgg(args(0)).toAggregateExpression(isDistinct = false))
    register("topk_pairs", args =>
      TopKPairsAgg(args(0), args(1), intArg(args(2), "k"))
        .toAggregateExpression(isDistinct = false))
    // product-quantization kernels; the codebook arrives as a literal
    // array<float> (flat (mm·K + ci)·ds + t layout, a plan constant)
    register("pq_codes", args => PqCodes(args(0),
      floatArrayArg(args(1), "codebook"),
      intArg(args(2), "numSubspaces"), intArg(args(3), "codebookSize")))
    register("pq_lut", args => PqLut(args(0),
      floatArrayArg(args(1), "codebook"),
      intArg(args(2), "numSubspaces"), intArg(args(3), "codebookSize")))
    register("pq_adc", args =>
      PqAdc(args(0), args(1), intArg(args(2), "codebookSize")))
  }

  private def floatArrayArg(e: Expression, name: String): Array[Float] = {
    // SQL `array(1.0F, …)` reaches the builder as a foldable CreateArray,
    // not a Literal — accept any foldable array expression
    if (!e.resolved || !e.foldable) throw new IllegalArgumentException(
      s"$name expects a foldable array, got $e")
    (e.dataType, e.eval()) match {
      case (org.apache.spark.sql.types.ArrayType(et, _),
          v: org.apache.spark.sql.catalyst.util.ArrayData) => et match {
        case org.apache.spark.sql.types.FloatType => v.toFloatArray()
        case org.apache.spark.sql.types.DoubleType => v.toDoubleArray().map(_.toFloat)
        case other => throw new IllegalArgumentException(
          s"$name expects a float/double array, got element type $other")
      }
      case (t, _) => throw new IllegalArgumentException(
        s"$name expects an array, got type $t")
    }
  }
}
