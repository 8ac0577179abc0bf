package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftExprBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass hash-sketch expressions.
  *
  * Why custom expressions: the composable forms re-evaluate shared
  * subtrees. 32 `aggregate(...)` calls over the same `transform(split(...))`
  * array get the split/md5 pipeline INLINED 32× by CollapseProject, and
  * higher-order functions run interpreted — measured minutes per 5k docs.
  * Each expression here consumes the token/shingle hash array ONCE and
  * computes the whole sketch in one compiled loop.
  *
  * Each expression's per-row algorithm is one static method of this
  * object, which `nullSafeEval` calls directly and `doGenCode` calls
  * through [[call]] (the form of [[MediaHeaderExpr]]): the projection stays
  * in ONE WholeStageCodegen span, primitive results stay unboxed, and the
  * two evaluation modes cannot drift apart. */
object HashSketch {
  /** The 60-bit md5 hash used everywhere, computed driver-side (for
    * constants like LSH planes and permutation coefficients). Matches
    * [[Vectors.hash60]] / `CAST(CONCAT('0x', SUBSTR(md5(x),1,15)) AS
    * BIGINT)` exactly. */
  def hash60(s: String): Long = hash60(MessageDigest.getInstance("MD5"), s)

  /** [[hash60]] with a caller-held digest, shared by the elements of a row. */
  private def hash60(md: MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  val MinHashPrime = 1073741789L

  /** Universal-hash permutation coefficients, derived from md5 so any
    * engine can re-derive them: a_p = 1 + h60("a<p>") % (P-1),
    * b_p = h60("b<p>") % P. */
  def permCoefficients(perms: Int): (Array[Long], Array[Long]) = (
    Array.tabulate(perms)(p => 1L + hash60(s"a$p") % (MinHashPrime - 1)),
    Array.tabulate(perms)(p => hash60(s"b$p") % MinHashPrime))

  /** The per-permutation minima of a MinHash signature: one pass over the
    * non-null shingle hashes `hs`, permutation p mapping h through
    * (a_p · (h mod P) + b_p) mod P. */
  def minhashMins(hs: ArrayData, as: Array[Long], bs: Array[Long]): Array[Long] = {
    val P = MinHashPrime
    val perms = as.length
    val mins = Array.fill(perms)(Long.MaxValue)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        val base = hs.getLong(i) % P
        var p = 0
        while (p < perms) {
          val v = (as(p) * base + bs(p)) % P
          if (v < mins(p)) mins(p) = v
          p += 1
        }
      }
      i += 1
    }
    mins
  }

  /** Deterministic hyperplane for LSH: component i = h60("<seed>_<i>")
    * mapped to [-1, 1]. */
  def plane(dim: Int, seed: Int): Array[Double] =
    Array.tabulate(dim)(i => (hash60(s"${seed}_$i") % 2000001L).toDouble / 1000000.0 - 1.0)

  /** Generated-code call of the kernel `method` below: the child values
    * `inputs`, then the expression's `constants` — an `Int` inline, any
    * other constant passed once by reference. */
  private[functions] def call(ctx: CodegenContext, method: String, constants: Any*)(
      inputs: String*): String = {
    val args = inputs ++ constants.map {
      case i: Int => i.toString
      case o => ctx.addReferenceObj("kernelConst", o, CodeGenerator.typeName(o.getClass))
    }
    s"${getClass.getName.stripSuffix("$")}.$method(${args.mkString(", ")})"
  }

  // ---- per-row kernels, one per expression --------------------------------

  /** [[SimHashExpr]]: bit j = sign of Σ over non-null hashes of ±1. */
  def simhash(hs: ArrayData, bits: Int): Long = {
    val n = hs.numElements()
    val weights = new Array[Int](bits)
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        var j = 0
        while (j < bits) {
          weights(j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < bits) {
      if (weights(j) >= 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** [[MinHashBandKeysExpr]]: `bands` keys "b:min_..._min" over the minima. */
  def minhashBandKeys(hs: ArrayData, as: Array[Long], bs: Array[Long],
      bands: Int): ArrayData = {
    val mins = minhashMins(hs, as, bs)
    val rowsPerBand = mins.length / bands
    val out = new Array[AnyRef](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder
      sb.append(b).append(':')
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append('_')
        sb.append(mins(b * rowsPerBand + r))
        r += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** [[MinHashSigExpr]]: the minima themselves. */
  def minhashSig(hs: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData =
    new GenericArrayData(minhashMins(hs, as, bs))

  /** [[ArrayEqCountExpr]]: equal non-null positions up to the shorter length. */
  def arrayEqCount(x: ArrayData, y: ArrayData): Int = {
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** [[ShingleSetExpr]]: distinct n-gram shingles, first occurrence first. */
  def shingleSet(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    def tok(i: Int): String =
      if (toks.isNullAt(i)) "" else toks.getUTF8String(i).toString
    val seen = new java.util.LinkedHashSet[String]
    if (m < n) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < m) { if (i > 0) sb.append(' '); sb.append(tok(i)); i += 1 }
      seen.add(sb.toString)
    } else {
      var i = 0
      while (i + n <= m) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(tok(i + j)); j += 1 }
        seen.add(sb.toString)
        i += 1
      }
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** [[ArrayHash60Expr]]: hash60(prefix + element); null stays null. */
  def arrayHash60(arr: ArrayData, prefix: String): ArrayData = {
    val n = arr.numElements()
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) out(i) = hash60(md, prefix + arr.getUTF8String(i).toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[RollingHash60Expr]]: the left fold; boxed, as a null token nulls it. */
  def rollingHash60(toks: ArrayData): java.lang.Long = {
    val n = toks.numElements()
    val md = MessageDigest.getInstance("MD5")
    var acc = 0L
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) return null
      val h = hash60(md, toks.getUTF8String(i).toString) % 1000000L
      acc = (acc * 31 + h) % MinHashPrime
      i += 1
    }
    acc
  }

  /** [[CountInSetExpr]]: occurrences of members of `set`. */
  def countInSet(arr: ArrayData, set: java.util.Set[String]): Int = {
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i).toString)) c += 1
      i += 1
    }
    c
  }

  /** [[FloatDotWeightsExpr]]: Σ (double) v[i] · w[i] over non-null v[i]. */
  def floatDotWeights(v: ArrayData, w: Array[Double]): Double = {
    val n = math.min(v.numElements(), w.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) s += v.getFloat(i).toDouble * w(i)
      i += 1
    }
    s
  }
}

/** Frequency-weighted SimHash from an `array<long>` of token hashes:
  * bit j = sign of Σ_tokens (bit j of hash ? +1 : -1). One pass.
  *
  * `bits` must not exceed the entropy of the token-hash family (60 for
  * [[HashSketch.hash60]]) — a wider output would carry constant bits that
  * halve every band's effective bucket count without adding selectivity. */
case class SimHashExpr(child: Expression, bits: Int)
    extends UnaryExpression {
  require(bits > 0 && bits <= 60, s"simhash width must be in 1..60, got $bits")
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"

  override def nullSafeEval(input: Any): Any =
    HashSketch.simhash(input.asInstanceOf[ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, HashSketch.call(ctx, "simhash", bits)(_))

  override protected def withNewChildInternal(c: Expression): SimHashExpr = copy(child = c)
}

/** MinHash LSH band keys from an `array<long>` of shingle hashes.
  *
  * Universal-hash family instead of per-permutation md5 re-hashing: each
  * shingle is md5-hashed ONCE upstream; permutation p maps it through
  * (a_p · (h mod P) + b_p) mod P. One pass computes all `perms` minima,
  * then emits `bands` keys "b:min_min_min_min". */
case class MinHashBandKeysExpr(child: Expression, perms: Int, bands: Int)
    extends UnaryExpression {
  require(perms % bands == 0, "perms must divide into bands")
  @transient private lazy val (as, bs) = HashSketch.permCoefficients(perms)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"

  override def nullSafeEval(input: Any): Any =
    HashSketch.minhashBandKeys(input.asInstanceOf[ArrayData], as, bs, bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, HashSketch.call(ctx, "minhashBandKeys", as, bs, bands)(_))

  override protected def withNewChildInternal(c: Expression): MinHashBandKeysExpr =
    copy(child = c)
}

/** Full MinHash signature (the per-permutation minima as `array<long>`)
  * from an `array<long>` of shingle hashes — the same
  * [[HashSketch.minhashMins]] as [[MinHashBandKeysExpr]], without the
  * band formatting. Used where the signature itself is the output (the
  * estimation-accuracy rung compares signature positions pairwise). */
case class MinHashSigExpr(child: Expression, perms: Int)
    extends UnaryExpression {
  @transient private lazy val (as, bs) = HashSketch.permCoefficients(perms)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    HashSketch.minhashSig(input.asInstanceOf[ArrayData], as, bs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, HashSketch.call(ctx, "minhashSig", as, bs)(_))

  override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
    copy(child = c)
}

/** Count of positions where two `array<long>` columns hold equal values
  * (up to the shorter length) — the signature-agreement counter for the
  * MinHash estimation rung. The composable form (`aggregate(zip_with(
  * ...))`) runs an interpreted lambda per element and breaks the stage
  * out of whole-stage codegen; this is one compiled loop. */
case class ArrayEqCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "array_eq_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    HashSketch.arrayEqCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, HashSketch.call(ctx, "arrayEqCount")(_, _))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayEqCountExpr =
    copy(left = newLeft, right = newRight)
}

/** Distinct word n-gram shingles from an `array<string>` token column, in
  * one compiled pass.
  *
  * The composable form — `transform(sequence(0, size(toks)-n), i =>
  * array_join(slice(toks, i+1, n), ' '))` — holds the TOKEN subtree inside
  * the lambda body while iterating a `sequence`, so the upstream
  * split/regex pipeline re-evaluates once per shingle POSITION per row
  * (measured: minutes over 5k docs). Here tokens evaluate once; shingles
  * build off a materialized array with first-occurrence dedup (same order
  * `array_distinct` yields).
  *
  * For token arrays shorter than n: one shingle = the whole joined text
  * (so every non-empty doc has ≥ 1 shingle). */
case class ShingleSetExpr(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_set"

  override def nullSafeEval(input: Any): Any =
    HashSketch.shingleSet(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, HashSketch.call(ctx, "shingleSet", n)(_))

  override protected def withNewChildInternal(c: Expression): ShingleSetExpr =
    copy(child = c)
}

/** Per-element 60-bit md5 hash of an `array<string>` column — the native
  * form of `transform(arr, t => hash60(prefix || t))`.
  *
  * The HOF version runs an INTERPRETED lambda per element (and drags the
  * whole projection out of whole-stage codegen); this is one compiled loop
  * sharing a single MessageDigest per row. Bit-identical to
  * `CAST(CONV(SUBSTR(MD5(prefix||t),1,15),16,10) AS BIGINT)` — the
  * [[Vectors.hash60]] / DuckDB-oracle form. Null elements map to null. */
case class ArrayHash60Expr(child: Expression, prefix: String)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "array_hash60"

  override def nullSafeEval(input: Any): Any =
    HashSketch.arrayHash60(input.asInstanceOf[ArrayData], prefix)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, HashSketch.call(ctx, "arrayHash60", prefix)(_))

  override protected def withNewChildInternal(c: Expression): ArrayHash60Expr =
    copy(child = c)
}

/** Rabin–Karp rolling hash over an `array<string>` token column — the
  * native form of `aggregate(transform(toks, t => hash60(t) % 1e6), 0,
  * (acc,x) => (acc*31+x) % P)`: one compiled pass, md5 per token, no
  * interpreted lambdas. Bit-identical to the HOF form (left fold, same
  * modulus chain); a null token yields null, as null propagates through
  * the HOF's arithmetic. */
case class RollingHash60Expr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  // nullable even over a non-null child: a null ELEMENT nulls the result,
  // and codegen needs a real isNull slot to assign
  override def nullable: Boolean = true
  override def prettyName: String = "rolling_hash60"

  override def nullSafeEval(input: Any): Any =
    HashSketch.rollingHash60(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val r = ctx.freshName("r")
      s"""java.lang.Long $r = ${HashSketch.call(ctx, "rollingHash60")(x)};
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
         |""".stripMargin
    })

  override protected def withNewChildInternal(c: Expression): RollingHash60Expr =
    copy(child = c)
}

/** Occurrence count of a CONSTANT string set in an `array<string>` column —
  * the native form of `size(filter(toks, t => array_contains(lit_set, t)))`.
  * The HOF runs an interpreted lambda per token; this is one compiled loop
  * over a hash set. Counts OCCURRENCES (array_intersect would dedup). */
case class CountInSetExpr(child: Expression, values: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_in_set"

  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    values.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any =
    HashSketch.countInSet(input.asInstanceOf[ArrayData], set)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, HashSketch.call(ctx, "countInSet", set)(_))

  override protected def withNewChildInternal(c: Expression): CountInSetExpr =
    copy(child = c)
}

/** Fused dot product of an `array<float>` column with a CONSTANT double[]
  * (LSH hyperplanes): (double)vec[i] · w[i], summed left-to-right — the
  * same arithmetic an engine computing from the md5-derived plane gets. */
case class FloatDotWeightsExpr(child: Expression, weights: Array[Double])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot_weights"

  override def nullSafeEval(input: Any): Any =
    HashSketch.floatDotWeights(input.asInstanceOf[ArrayData], weights)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, HashSketch.call(ctx, "floatDotWeights", weights)(_))

  override protected def withNewChildInternal(c: Expression): FloatDotWeightsExpr =
    copy(child = c)
}

object HashExpr {
  /** The column face of the native expression `build` makes over `c`. */
  private def face(c: Column)(build: Expression => Expression): Column =
    GraftExprBridge.column(build(GraftExprBridge.expression(c)))

  def shingleSet(tokens: Column, n: Int): Column = face(tokens)(ShingleSetExpr(_, n))

  def simhash(tokenHashes: Column, bits: Int): Column = face(tokenHashes)(SimHashExpr(_, bits))

  def minhashBandKeys(shingleHashes: Column, perms: Int, bands: Int): Column =
    face(shingleHashes)(MinHashBandKeysExpr(_, perms, bands))

  def minhashSig(shingleHashes: Column, perms: Int): Column =
    face(shingleHashes)(MinHashSigExpr(_, perms))

  def arrayEqCount(a: Column, b: Column): Column =
    face(a)(ArrayEqCountExpr(_, GraftExprBridge.expression(b)))

  def floatDotWeights(vec: Column, weights: Array[Double]): Column =
    face(vec)(FloatDotWeightsExpr(_, weights))

  def arrayHash60(arr: Column, prefix: String = ""): Column =
    face(arr)(ArrayHash60Expr(_, prefix))

  def rollingHash60(tokens: Column): Column = face(tokens)(RollingHash60Expr(_))

  def countInSet(arr: Column, values: Seq[String]): Column =
    face(arr)(CountInSetExpr(_, values))
}
