package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns (SURVEY.md §2C: scalar extension point).
  *
  * Why an Expression and not a UDF/higher-order chain: `doGenCode`
  * emits a primitive double loop straight into WholeStageCodegen — no
  * per-element lambda dispatch, no boxing, no serializer hop. On a
  * 64-dim embedding this is the hot inner loop of every similarity
  * scan, so it must stay in the generated plan.
  *
  * Accumulation is sequential in element order (dot, |a|², |b|² as
  * independent accumulators), bit-identical to the oracle's
  * `list_reduce` folds.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $x.getFloat($i);
         |  double $yi = (double) $y.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($denom == 0.0) { ${ev.isNull} = true; }
         |else { ${ev.value} = $dot / $denom; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Squared Euclidean distance between an `array<float>` query vector
  * and an `array<double>` centroid — the IVF assignment inner loop.
  * Same accumulation contract as [[CosineSimilarity]]: one sequential
  * fold, bit-compatible with the oracle's list_reduce.
  */
case class L2DistanceSq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  // the element reads below are raw getFloat/getDouble — any other
  // element type would be read as garbage, so fail at analysis instead
  // (ADVICE r14)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorFunctions.checkFloatArrays("l2_dist_sq", Seq(left, right))

  // each side may be array<float> (raw embeddings) or array<double>
  // (derived centroids) — dispatch the element read on the bound type
  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val leftFloat = isFloat(left)
  private lazy val rightFloat = isFloat(right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val xr = if (leftFloat) s"(double) $x.getFloat($i)" else s"$x.getDouble($i)"
      val yr = if (rightFloat) s"(double) $y.getFloat($i)" else s"$y.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $xr - $yr;
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2DistanceSq =
    copy(left = newLeft, right = newRight)
}

/** Squared Euclidean distance over an OFFSET SLICE of two numeric
  * arrays — `l2_dist_sq_at(a, b, off, len)` sums (a[off+i]-b[off+i])²
  * for i in [0, len), 0-based. The generalized form of
  * [[L2DistanceSq]] the PQ subspace encode/LUT loops need (off = j*8
  * inside a `transform` lambda) and the matryoshka prefix distances
  * need (off = 0, len < dim). Same accumulation contract: one
  * sequential double fold in element order, bit-identical to both the
  * oracle's list_reduce and the interpreted
  * `aggregate(sequence(1, len), 0D, ...)` HOF it replaces (r14: that
  * HOF was the hot inner loop of every IVF/PQ distance pass, running
  * interpreted per element; this emits a primitive loop into
  * WholeStageCodegen). */
case class L2DistanceSqAt(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorFunctions.checkFloatArrays("l2_dist_sq_at", Seq(first, second))

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val leftFloat = isFloat(first)
  private lazy val rightFloat = isFloat(second)

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val off = c.asInstanceOf[Number].intValue()
    val len = d.asInstanceOf[Number].intValue()
    var acc = 0.0
    var i = 0
    while (i < len) {
      val xv = if (leftFloat) x.getFloat(off + i).toDouble else x.getDouble(off + i)
      val yv = if (rightFloat) y.getFloat(off + i).toDouble else y.getDouble(off + i)
      val dd = xv - yv
      acc += dd * dd
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (x, y, o, l) => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val off = ctx.freshName("off")
      val xr = if (leftFloat) s"(double) $x.getFloat($off + $i)" else s"$x.getDouble($off + $i)"
      val yr = if (rightFloat) s"(double) $y.getFloat($off + $i)" else s"$y.getDouble($off + $i)"
      s"""
         |int $off = (int) $o;
         |double $acc = 0.0;
         |for (int $i = 0; $i < (int) $l; $i++) {
         |  double $d = $xr - $yr;
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): L2DistanceSqAt =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

/** 16-bit SimHash over an array of per-word md5 hex strings —
  * `simhash16(mds)` returns the 16-char '0'/'1' string whose bit j is
  * set when the ±1 votes of each word's j-th hex digit high bit sum
  * positive. Replaces (r14) the interpreted
  * `transform(sequence(0,15), j -> CASE WHEN aggregate(mds, ...) ...)`
  * chain that re-folded the whole word array once PER BIT (16 HOF
  * passes, each with per-element lambda dispatch): this is ONE native
  * pass over the words updating 16 counters. Hex digits are ASCII, so
  * the high-bit test `c IN ('8'..'f')` is `c >= '8'` on the byte
  * ('8'&lt;'9'&lt;'a'..'f' in ASCII, and md5 hex is lowercase), which
  * is value-identical. Empty input yields all-zero bits, exactly like
  * the old fold's 0-seed. */
case class SimHash16(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](16)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val s = arr.getUTF8String(i)
      // input contract: md5 hex strings (every call site feeds literal
      // md5() output). Reading 16 bytes of anything shorter (or of a
      // null element) would be out-of-bounds, so fail loudly instead
      // (VERDICT r14 §3).
      if (s == null || s.numBytes() < 16)
        throw new IllegalArgumentException(
          s"simhash16 expects md5 hex strings (>=16 bytes), got '$s'")
      var j = 0
      while (j < 16) {
        val b = s.getByte(j)
        if (b >= '8') counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    val out = new Array[Byte](16)
    var j = 0
    while (j < 16) {
      out(j) = if (counts(j) > 0) '1' else '0'
      j += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, a => {
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val out = ctx.freshName("out")
      s"""
         |int[] $counts = new int[16];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  org.apache.spark.unsafe.types.UTF8String $s = $a.getUTF8String($i);
         |  if ($s == null || $s.numBytes() < 16) throw new IllegalArgumentException(
         |    "simhash16 expects md5 hex strings (>=16 bytes), got '" + $s + "'");
         |  for (int $j = 0; $j < 16; $j++) {
         |    if ($s.getByte($j) >= (byte) '8') $counts[$j]++; else $counts[$j]--;
         |  }
         |}
         |byte[] $out = new byte[16];
         |for (int $j = 0; $j < 16; $j++) {
         |  $out[$j] = $counts[$j] > 0 ? (byte) '1' : (byte) '0';
         |}
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromBytes($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
}

/** Shared runtime of [[MinHash8]] — kept as a static helper so the
  * generated code is one call into compiled Scala (the digest loop
  * itself cannot usefully inline into Janino source). */
object MinHashUtil {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexChars = "0123456789abcdef".getBytes

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff
      val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  /** 8 seed-salted MinHash values of a word-set column: per seed s,
    * min over words of md5(s + "|" + word), returned as the lowercase
    * hex strings. Digest bytes compare unsigned (hex encoding is
    * order-preserving), so only the 8 winners are hex-encoded. Empty
    * input yields 8 nulls — exactly array_min over an empty array. */
  def minhash8(arr: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    val mins = new Array[Array[Byte]](8)
    val digest = mdLocal.get()
    var i = 0
    while (i < n) {
      val wb = arr.getUTF8String(i).getBytes
      var s = 0
      while (s < 8) {
        digest.reset()
        digest.update(('0' + s).toByte)
        digest.update('|'.toByte)
        digest.update(wb)
        val d = digest.digest()
        if (mins(s) == null || unsignedLess(d, mins(s))) mins(s) = d
        s += 1
      }
      i += 1
    }
    val out = new Array[Any](8)
    var s = 0
    while (s < 8) {
      if (mins(s) != null) {
        val hex = new Array[Byte](32)
        var k = 0
        while (k < 16) {
          hex(2 * k) = hexChars((mins(s)(k) >> 4) & 0xf)
          hex(2 * k + 1) = hexChars(mins(s)(k) & 0xf)
          k += 1
        }
        out(s) = org.apache.spark.unsafe.types.UTF8String.fromBytes(hex)
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** THE unigram-set MinHash signature as a native expression —
  * `minhash8(ws)` == `transform(sequence(0, 7), s -> array_min(
  * transform(ws, x -> md5(concat(CAST(s AS STRING), '|', x)))))`
  * value-for-value. The r14 motivation: the HOF form materialized 8
  * intermediate per-word string arrays per row and paid interpreted
  * lambda dispatch per (seed, word); the 8·|ws| md5 digests are
  * intrinsic (the oracle pins the salted-hash rule), but everything
  * around them is not. */
case class MinHash8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = true)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    MinHashUtil.minhash8(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinHashUtil.minhash8($a);")

  override protected def withNewChildInternal(newChild: Expression): MinHash8 =
    copy(child = newChild)
}

/** Runtime of [[IntersectSize]] (static helper so codegen is one call
  * into compiled Scala, the [[MinHashUtil]] pattern). */
object ArraySetUtil {
  /** |a ∩ b| over distinct elements — exactly
    * `size(array_intersect(a, b))`, without materializing the
    * intersect array. Builds the hash set over the SMALLER side and
    * removes each hit from it, so a value repeated on either side
    * counts once (the count is symmetric). */
  def interSize(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    val m = large.numElements()
    val set = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String](n * 2)
    var i = 0
    while (i < n) { set.add(small.getUTF8String(i)); i += 1 }
    var c = 0
    i = 0
    while (i < m) {
      if (set.remove(large.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }
}

/** `inter_size(a, b)` == `size(array_intersect(a, b))` — the
  * exact-Jaccard verify hot path
  * (the predicate runs once in the join filter and once in the value
  * projection per candidate; array_intersect allocates and returns the
  * intersect ARRAY both times just to take its size). */
case class IntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArraySetUtil.interSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ArraySetUtil.interSize($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectSize =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Shared analysis-time check for the raw-read distance expressions:
    * both vector sides must be array<float> or array<double> (the
    * generated code reads elements with getFloat/getDouble and would
    * silently misread any other width). */
  def checkFloatArrays(fn: String, sides: Seq[Expression])
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    sides.zipWithIndex.collectFirst {
      case (e, i) if !e.dataType.isInstanceOf[ArrayType] ||
          !Seq(FloatType, DoubleType).contains(
            e.dataType.asInstanceOf[ArrayType].elementType) =>
        TypeCheckResult.TypeCheckFailure(
          s"$fn argument ${i + 1} must be array<float> or array<double>, " +
            s"got ${e.dataType.simpleString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n)
        throw new IllegalArgumentException(
          s"$name takes exactly $n argument(s), got ${exprs.length}")
      build(exprs)
    }

  /** THE single list of native functions. Both registration paths —
    * per-session temp functions below and the shared-cluster
    * [[graft.GraftExtensions]] injection — iterate this, so a function
    * added here is automatically available on both (ADVICE r14: the
    * extensions path had drifted to cosine_sim only, leaving every
    * IVF/minhash/simhash lane unresolvable in an extensions-configured
    * session). (name, implementing class, builder). */
  val specs: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity],
      arity("cosine_sim(array<numeric>, array<numeric>)", 2)(
        exprs => CosineSimilarity(exprs.head, exprs(1)))),
    ("ngrams_3", classOf[NGramGenerator],
      arity("ngrams_3(text)", 1)(exprs => NGramGenerator(exprs.head, 3))),
    ("ngrams_2", classOf[NGramGenerator],
      arity("ngrams_2(text)", 1)(exprs => NGramGenerator(exprs.head, 2))),
    ("l2_dist_sq", classOf[L2DistanceSq],
      arity("l2_dist_sq(array<numeric>, array<numeric>)", 2)(
        exprs => L2DistanceSq(exprs.head, exprs(1)))),
    ("l2_dist_sq_at", classOf[L2DistanceSqAt],
      arity("l2_dist_sq_at(array<numeric>, array<numeric>, off, len)", 4)(
        exprs => L2DistanceSqAt(exprs.head, exprs(1), exprs(2), exprs(3)))),
    ("simhash16", classOf[SimHash16],
      arity("simhash16(array<string>)", 1)(exprs => SimHash16(exprs.head))),
    ("minhash8", classOf[MinHash8],
      arity("minhash8(array<string>)", 1)(exprs => MinHash8(exprs.head))),
    ("inter_size", classOf[IntersectSize],
      arity("inter_size(array<string>, array<string>)", 2)(
        exprs => IntersectSize(exprs.head, exprs(1)))))

  /** Register every native function as a session temp function.
    * Idempotent per session: SparkEntry.queries wraps every lane with
    * this call, and re-registration would log one
    * `SimpleFunctionRegistry ... replaced` WARN per function per query
    * (thousands of stderr lines in a full bench run, polluting the
    * captured tail), so only names the session lacks are
    * registered — each name is checked, so a session holding some of
    * them still gets the rest. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    specs.foreach { case (name, _, builder) =>
      if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
