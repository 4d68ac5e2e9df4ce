package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (with doGenCode) for the two hottest
  * inner loops of the pipeline families. Spark's higher-order functions
  * (transform/aggregate lambdas) are interpreted and allocate an array
  * per row per step; these stay inside whole-stage codegen with zero
  * allocation. Semantics are bit-identical to the HOF forms they
  * replace (pinned by NativeExprsSpec), so the DuckDB oracles are
  * unchanged.
  */

/** Polynomial rolling hash over a string's code points:
  * fold (acc*base + codePoint) % mod — codegen'd replacement for
  * TextOps.rollingHash.
  */
case class RollingHashExpr(child: Expression, base: Long, mod: Long)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      acc = (acc * base + cp) % mod
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val js = ctx.freshName("js")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      s"""
        String $js = $c.toString();
        long $acc = 0L;
        int $i = 0;
        while ($i < $js.length()) {
          int $cp = $js.codePointAt($i);
          $i += Character.charCount($cp);
          $acc = ($acc * ${base}L + $cp) % ${mod}L;
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHashExpr =
    copy(child = newChild)
}

/** Bloom-filter membership probe over a BROADCAST sketch — the native
  * replacement for the one Scala UDF that used to break codegen in the
  * bloom-gated incremental dedup (d10) hot filter: Spark exposes no
  * public bloom-probe expression (BloomFilterMightContain is reserved
  * for its own runtime row-group filtering), so this one probes the
  * same `org.apache.spark.util.sketch.BloomFilter` the public
  * `df.stat.bloomFilter` builds.
  *
  * The sketch rides the task as a Broadcast HANDLE — one executor-wide
  * copy, never serialized into the codegen references per task — and
  * is resolved to the filter ONCE per generated-class instance (a
  * mutable-state init), so the per-row path is a single
  * `mightContainBinary` over the string's UTF-8 bytes (bit-identical
  * to `mightContainString`, minus the String allocation). Null in →
  * null out (standard expression semantics); callers that need the
  * old UDF's `false`-on-null wrap with `coalesce(..., false)`.
  */
case class BloomMightContainExpr(child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    bloom.value.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bloomBc", bloom,
      "org.apache.spark.broadcast.Broadcast")
    val filter = ctx.addMutableState("org.apache.spark.util.sketch.BloomFilter",
      "graftBloom",
      v => s"$v = (org.apache.spark.util.sketch.BloomFilter) $bcRef.value();")
    defineCodeGen(ctx, ev, c => s"$filter.mightContainBinary($c.getBytes())")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainExpr =
    copy(child = newChild)
}

/** Exact double dot product of two float arrays — left-fold in element
  * order, identical op sequence to TextOps.dot (zip_with + aggregate)
  * and the DuckDB list_reduce mirror. Null input or a null element ⇒
  * null (matching the HOF form's null propagation).
  */
case class FloatVecDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def elementNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  /** A null ELEMENT also nulls the result, so nullability must include
    * containsNull — with the default (children-only) nullability,
    * nullSafeCodeGen's non-nullable branch emits a reference to an
    * undeclared isNull variable and the whole stage silently falls
    * back to interpreted mode (janino "not an rvalue").
    */
  override def nullable: Boolean =
    left.nullable || right.nullable ||
      elementNullable(left) || elementNullable(right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val loop =
        if (elementNullable(left) || elementNullable(right))
          // nullable ⇒ ev.isNull is a declared variable here
          s"""
            for (int $i = 0; $i < $n; $i++) {
              if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
              $acc += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
            }
            if (${ev.isNull}) { ${ev.value} = 0.0; } else { ${ev.value} = $acc; }
          """
        else
          // containsNull=false on both sides: tight loop, no per-element
          // branch, no isNull reference (it may be a compile-time false)
          s"""
            for (int $i = 0; $i < $n; $i++) {
              $acc += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
            }
            ${ev.value} = $acc;
          """
      s"""
        int $n = java.lang.Math.min($x.numElements(), $y.numElements());
        double $acc = 0.0;
        $loop
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDotExpr =
    copy(left = newLeft, right = newRight)
}

object NativeExprs {

  /** Name → expression builder for every native function — the single
    * source both registration paths (lazy register() and
    * graft.GraftExtensions session injection) read from.
    * graft_rolling_hash2 is the second hash family (base 137) used by
    * SimHash's 60-bit packing.
    */
  private[graft] val builders
      : Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression]
        => org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    "graft_rolling_hash" -> (exprs => RollingHashExpr(exprs.head, 131L, 1000000007L)),
    "graft_rolling_hash2" -> (exprs => RollingHashExpr(exprs.head, 137L, 998244353L)),
    "graft_vec_dot" -> (exprs => FloatVecDotExpr(exprs(0), exprs(1))),
    "graft_shingles3" -> (exprs => WordShinglesExpr(exprs.head, 3)),
    "graft_gram2_stats" -> (exprs => Gram2StatsExpr(exprs.head)),
    // bounds MUST be a foldable array literal — they are evaluated once
    // at plan build (the per-row path is then a pure binary search).
    // A non-foldable second argument (a column, a subquery) would be
    // eval'd against a null input row — an obscure exception at best, a
    // silently wrong constant at worst — so it is rejected loudly here.
    "graft_sorted_bucket" -> (exprs => {
      if (!exprs(1).foldable)
        throw new IllegalArgumentException(
          "graft_sorted_bucket(v, bounds): bounds must be a foldable " +
            s"array literal, got non-foldable ${exprs(1).sql}")
      SortedBucketExpr(exprs(0),
        exprs(1).eval(null).asInstanceOf[ArrayData].toDoubleArray().toIndexedSeq)
    }),
    "graft_sorted_bucket_str" -> (exprs => {
      if (!exprs(1).foldable)
        throw new IllegalArgumentException(
          "graft_sorted_bucket_str(v, bounds): bounds must be a foldable " +
            s"array literal, got non-foldable ${exprs(1).sql}")
      SortedBucketStrExpr(exprs(0),
        exprs(1).eval(null).asInstanceOf[ArrayData]
          .toObjectArray(StringType).map(_.asInstanceOf[UTF8String].toString)
          .toIndexedSeq)
    }))

  /** Idempotent session registration; the catalog queries call this so
    * any fresh SparkSession (driver-owned) gets the functions. The
    * functionExists guard keeps re-registration silent (the former
    * unconditional createOrReplace logged a WARN per call). Sessions
    * built with spark.sql.extensions=graft.GraftExtensions get the
    * functions at session construction instead.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  def shingles3(spark: SparkSession, s: Column): Column = {
    register(spark)
    call_function("graft_shingles3", s)
  }

  def rollingHash(spark: SparkSession, s: Column): Column = {
    register(spark)
    call_function("graft_rolling_hash", s)
  }

  /** Second hash family (base 137 mod 998244353) — paired with
    * rollingHash to pack a 60-bit token hash for SimHash.
    */
  def rollingHash2(spark: SparkSession, s: Column): Column = {
    register(spark)
    call_function("graft_rolling_hash2", s)
  }

  def dot(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_vec_dot", a, b)
  }

  /** Per-document 2-gram repetition stats — struct(n2, maxc, dupc)
    * over a token array, zero-shuffle (see Gram2Helper).
    */
  def gram2Stats(spark: SparkSession, toks: Column): Column = {
    register(spark)
    call_function("graft_gram2_stats", toks)
  }

  /** Codegen'd probe of a broadcast BloomFilter (see
    * BloomMightContainExpr). The sketch can't travel as a SQL literal,
    * so the probe is registered as a session function whose builder
    * captures THIS broadcast; `createOrReplaceTempFunction` means the
    * LAST registration wins — the returned Column resolves at Dataset
    * construction (analysis is eager), so build-and-use immediately
    * and don't interleave two different blooms inside one unanalyzed
    * plan construction.
    */
  def bloomMightContain(spark: SparkSession,
      bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
      h: Column): Column = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_might_contain",
      exprs => BloomMightContainExpr(exprs.head, bloom), "scala_udf")
    call_function("graft_bloom_might_contain", h)
  }

  /** Bucket id of a string against sorted boundaries in unsigned byte
    * order (see SortedBucketStrExpr) — lets ZOrder.cluster rank string
    * columns (url_host, lang) consistently with the footer-stats order
    * the warehouse's `prune` compares by.
    */
  def sortedBucketStr(spark: SparkSession, v: Column, bounds: Array[String]): Column = {
    register(spark)
    call_function("graft_sorted_bucket_str", v,
      org.apache.spark.sql.functions.lit(bounds))
  }

  /** Quantile-bucket id of a double against a sorted boundary array
    * (binary search, codegen'd) — the skew-robust rank proxy behind
    * ZOrder.cluster. `bounds` is embedded as a plan-time constant.
    */
  def sortedBucket(spark: SparkSession, v: Column, bounds: Array[Double]): Column = {
    register(spark)
    call_function("graft_sorted_bucket", v,
      org.apache.spark.sql.functions.lit(bounds))
  }
}

/** Binary search a double into `bounds.length + 1` quantile buckets. */
object ZOrderHelper {
  def bucket(v: Double, bounds: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(bounds, v)
    if (i >= 0) i else -i - 1
  }

  /** String variant: rank of `v` among sorted boundaries in UNSIGNED
    * BYTE order (UTF8String.compareTo) — the one string order the
    * whole skipping layer shares (parquet binary stats, Spark string
    * sort, FileStats.cmpBytes), so a z-layout bucketed here prunes
    * correctly against footer stats later.
    */
  def bucketStr(v: UTF8String, bounds: Array[UTF8String]): Int = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid).compareTo(v) <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** Bucket id of `child` (double) in the sorted `bounds` array — a
  * constant captured at plan build (see NativeExprs.sortedBucket).
  * O(log bounds) per row inside whole-stage codegen; the array rides
  * the generated class as a reference object, not per-row state.
  */
case class SortedBucketExpr(child: Expression, bounds: Seq[Double])
    extends UnaryExpression {

  // bounds is a Seq (value equality), NOT an Array (reference
  // equality): case-class equality drives expression canonicalization,
  // and an Array field would make semantically identical expressions
  // never compare equal — missed common-subexpression elimination and
  // confusing plan diffs
  private lazy val arr: Array[Double] = bounds.toArray

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    ZOrderHelper.bucket(input.asInstanceOf[Double], arr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bounds", arr, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.ZOrderHelper.bucket($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): SortedBucketExpr =
    copy(child = newChild)
}

/** String counterpart of SortedBucketExpr: bucket id of `child` among
  * `bounds` in unsigned byte order (see ZOrderHelper.bucketStr).
  * Bounds are plan-time constants held as Seq[String] for value-based
  * expression equality; the UTF8String array the search runs on is
  * built once per instance.
  */
case class SortedBucketStrExpr(child: Expression, bounds: Seq[String])
    extends UnaryExpression {

  private lazy val arr: Array[UTF8String] =
    bounds.map(UTF8String.fromString).toArray

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    ZOrderHelper.bucketStr(input.asInstanceOf[UTF8String], arr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bounds", arr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.ZOrderHelper.bucketStr($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): SortedBucketStrExpr =
    copy(child = newChild)
}

/** Distinct word n-gram shingles ('_'-joined), built in one pass — the
  * codegen'd replacement for TextOps.distinctShingles (tokens → HOF
  * transform → array_distinct chain). First-occurrence order, empty
  * tokens dropped, < n tokens ⇒ empty array.
  */
object ShingleHelper {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  def shingles(s: UTF8String, n: Int): ArrayData = {
    val toks = s.toString.split(' ').filter(_.nonEmpty)
    if (toks.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val seen = new java.util.LinkedHashSet[UTF8String]
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var k = 1
        while (k < n) { sb.append('_').append(toks(i + k)); k += 1 }
        seen.add(UTF8String.fromString(sb.toString))
        i += 1
      }
      new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
    }
  }
}

case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    ShingleHelper.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleHelper.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
}

/** One-pass per-document adjacent-2-gram statistics for the Gopher
  * repetition signals (Rae et al. 2021 §A1.1): total 2-gram count,
  * the most common 2-gram's count, and the mass of duplicated 2-grams.
  *
  * These are ROW-LOCAL functions of one document's token array, so
  * computing them here replaces x12/x16's former
  * explode(2-grams) → groupBy(doc, gram) → groupBy(doc) shape — which
  * shuffled one row per TOKEN of the corpus, twice — with a zero-
  * shuffle projection. At 100 TB that is the difference between a
  * full-corpus-sized shuffle and none at all. Tokens come from
  * TextOps.tokens (split on ' '), so the ' '-joined gram key cannot
  * collide.
  *
  * Memory contract: the transient HashMap holds ONE document's
  * distinct 2-grams — O(min(tokens, distinct grams)) per row, freed
  * per row. This assumes documents bounded well below executor task
  * memory: a 10M-token outlier costs a few hundred MB transiently
  * (survivable); a multi-GB single document would not be — but such a
  * row already exceeds what the corpus contract admits (the x16
  * curation pipeline's length gate rejects it before the repetition
  * signals run, and a single Spark row is itself hard-capped at 2 GB).
  * Deliberately NOT capped internally: a silent token cap would
  * diverge from the exact whole-document oracle semantics.
  */
object Gram2Helper {
  private val SP = UTF8String.fromString(" ")

  def stats(toks: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = toks.numElements()
    var n2 = 0L; var maxc = 0L; var dupc = 0L
    if (n >= 2) {
      val counts = new java.util.HashMap[UTF8String, Array[Long]]()
      var i = 0
      while (i + 1 < n) {
        // concat copies into fresh bytes, so the key is stable even if
        // the backing array data is buffer-backed
        val g = UTF8String.concat(toks.getUTF8String(i), SP, toks.getUTF8String(i + 1))
        val c = counts.get(g)
        if (c == null) counts.put(g, Array(1L)) else c(0) += 1L
        i += 1
      }
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next()(0)
        n2 += c
        if (c > maxc) maxc = c
        if (c > 1L) dupc += c
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n2, maxc, dupc))
  }
}

case class Gram2StatsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n2", LongType, nullable = false),
    StructField("maxc", LongType, nullable = false),
    StructField("dupc", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    Gram2Helper.stats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Gram2Helper.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): Gram2StatsExpr =
    copy(child = newChild)
}
