package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.GraftExprBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{F, Text, Vectors}

/** SQL surface of the engine: registers graft's column functions as SQL
  * functions via [[SparkSessionExtensions]], so every operator is reachable
  * from `spark.sql(...)` — the reference's users speak SQL (dbt models,
  * probe scripts; SURVEY §3), and a switch to this library must not force
  * them through the Scala API.
  *
  * Registration is injectFunction only — no custom parser/rules needed; the
  * functions expand to Catalyst trees (built-ins + graft's native
  * expressions), so Catalyst optimizes through them exactly as in the
  * DataFrame API. Enabled by default in [[GraftSession]]; external sessions
  * opt in with `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    register(ext, "graft_surrogate_key", "_FUNC_(col, ...) - dbt_utils-compatible md5 surrogate key",
      VarArgs(min = 1),
      children => exprOf(F.surrogateKey(children.map(colOf): _*)))
    register(ext, "graft_hash60", "_FUNC_(str) - 60-bit md5-derived hash of a string",
      Exactly(1),
      children => exprOf(Vectors.hash60(colOf(children.head))))
    register(ext, "graft_fingerprint", "_FUNC_(text) - md5 fingerprint of normalized text",
      Exactly(1),
      children => exprOf(Text.fingerprint(colOf(children.head))))
    register(ext, "graft_simhash", "_FUNC_(text) - 60-bit simhash of normalized text",
      Exactly(1),
      children => exprOf(Text.simhash60(colOf(children.head))))
    register(ext, "graft_shingles", "_FUNC_(text, n) - distinct word n-gram shingles",
      Exactly(2),
      children => exprOf(Text.shingleSet(colOf(children.head), intArg(children, 1))))
    register(ext, "graft_minhash_bands", "_FUNC_(shingles, perms, bands) - MinHash LSH band keys",
      Exactly(3),
      children => exprOf(Text.minhashBands(
        colOf(children.head), intArg(children, 1), intArg(children, 2))))
    register(ext, "float_dot", "_FUNC_(a, b) - dot product of two float arrays",
      Exactly(2),
      children => graft.functions.DotProduct(children.head, children(1)))
    register(ext, "graft_token_count", "_FUNC_(text) - whitespace token count",
      Exactly(1),
      children => exprOf(Text.tokenCount(colOf(children.head))))
    register(ext, "graft_bpe_token_count", "_FUNC_(text) - BPE-ish subword chunk count",
      Exactly(1),
      children => exprOf(Text.bpeTokenCount(colOf(children.head))))
    register(ext, "graft_rolling_hash", "_FUNC_(text) - Rabin-Karp rolling hash of the token stream",
      Exactly(1),
      children => exprOf(Text.rollingHash(colOf(children.head))))
    register(ext, "graft_array_hash60", "_FUNC_(arr) - per-element 60-bit md5 hash of a string array",
      Exactly(1),
      children => graft.functions.ArrayHash60Expr(children.head, ""))
    register(ext, "graft_q8_scale", "_FUNC_(arr) - symmetric int8 quantization scale (max |component|)",
      Exactly(1),
      children => exprOf(graft.functions.Vectors.q8Scale(colOf(children.head))))
    register(ext, "graft_q8_quantize", "_FUNC_(arr, scale) - quantize a float array to int8 under scale",
      Exactly(2),
      children => exprOf(graft.functions.Vectors.q8Quantize(
        colOf(children.head), colOf(children(1)))))
    register(ext, "graft_q8_dequantize", "_FUNC_(qarr, scale) - dequantize an int8 array under scale",
      Exactly(2),
      children => exprOf(graft.functions.Vectors.q8Dequantize(
        colOf(children.head), colOf(children(1)))))
    register(ext, "graft_media_header",
      "_FUNC_(binary) - parse a PNG/JPEG/GIF/WAV container header to (format, width, height, sample_rate, channels, bits_per_sample)",
      Exactly(1),
      children => graft.functions.MediaHeaderExpr(children.head))
  }
}

object GraftExtensions {

  private def colOf(e: Expression) = GraftExprBridge.column(e)
  private def exprOf(c: org.apache.spark.sql.Column) = GraftExprBridge.resolvedExpression(c)

  /** Extract a compile-time int argument (e.g. shingle width) — must be a
    * foldable literal, like the built-in functions require for such args. */
  private def intArg(children: Seq[Expression], pos: Int): Int =
    children(pos) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"argument ${pos + 1} must be an integer literal, got $other")
    }

  /** Accepted argument counts for a registered function. */
  sealed trait Arity { def ok(n: Int): Boolean; def describe: String }
  final case class Exactly(n: Int) extends Arity {
    def ok(m: Int): Boolean = m == n
    def describe: String = n.toString
  }
  final case class VarArgs(min: Int) extends Arity {
    def ok(m: Int): Boolean = m >= min
    def describe: String = s">= $min"
  }

  private def register(ext: SparkSessionExtensions, name: String, usage: String,
      arity: Arity, builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      // 5-arg ctor (className, db, name, usage, extended) — the 3-arg
      // overload's middle argument is the DATABASE, not the usage.
      new ExpressionInfo("graft.GraftExtensions", null, name, usage, ""),
      children => {
        if (!arity.ok(children.size)) throw new IllegalArgumentException(
          s"$name expects ${arity.describe} arguments, got ${children.size}")
        builder(children)
      }))
}
