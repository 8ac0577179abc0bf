package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftExprBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items summary as a native Catalyst aggregate.
  *
  * Finding tokens with frequency > n/k over 100 TB with an exact
  * `groupBy(token)` shuffles the ENTIRE token stream — the vocabulary of a
  * web-scale corpus is itself huge, so both the shuffle and the reduce
  * side are data-proportional. The Misra–Gries summary replaces that with
  * a k-counter sketch per partition: each update touches at most k
  * counters, each partition ships exactly one ≤k-entry summary, and the
  * final merge folds them associatively (Agarwal et al., "Mergeable
  * Summaries", PODS 2012 — the merge below is their decrement-by-(k+1)-th
  * -largest construction, which preserves the n/(k+1) undercount bound).
  *
  * Guarantee: every item with true frequency > n/(k+1) survives in the
  * final summary — the summary is a SUPERSET of the heavy hitters, never
  * a miss. Candidates are then recounted exactly in a second pass
  * (a ≤k-value `isin` filter, map-side) so the emitted rows are the exact
  * heavy-hitter set regardless of which extra candidates the sketch
  * happened to carry — that recount is what makes the operator
  * deterministic under any partitioning and hence oracle-gradable.
  *
  * This is a [[TypedImperativeAggregate]], Spark's container for
  * aggregation state that has no fixed-width unsafe-row encoding (the
  * buffer is a key→count map). It still participates in partial
  * aggregation: update runs map-side, serialized ≤k-entry buffers cross
  * the network, merge runs reduce-side — the same partial/final shape as
  * any built-in aggregate.
  *
  * The child's type, read at analysis, picks the [[MisraGriesKeys]]: a
  * bigint child emits `array<bigint>`, any other child `array<string>`.
  */
case class MisraGriesAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.Map[Any, Long]] {

  require(k > 0, "Misra-Gries capacity k must be positive")

  // an unresolved child has no type yet; the analyzer copies this
  // aggregate when it resolves the child, so the copy reads it afresh
  @transient private lazy val keys: MisraGriesKeys =
    if (child.resolved && child.dataType == LongType) MisraGriesKeys.Longs
    else MisraGriesKeys.Strings

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(keys.elementType, containsNull = false)
  override def prettyName: String = keys.prettyName

  override def createAggregationBuffer(): mutable.Map[Any, Long] = keys.newMap()

  override def update(buffer: mutable.Map[Any, Long],
      input: InternalRow): mutable.Map[Any, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = keys.fromInput(v)
      buffer.get(key) match {
        case Some(c) => buffer.update(key, c + 1L)
        case None if buffer.size < k => buffer.update(key, 1L)
        // classic MG step: a miss with a full table decrements every
        // counter; zeros free their slots. Amortized O(1): each
        // decrement pass cancels k+1 prior increments.
        case None => decrementAll(buffer, 1L)
      }
    }
    buffer
  }

  override def merge(buffer: mutable.Map[Any, Long],
      other: mutable.Map[Any, Long]): mutable.Map[Any, Long] = {
    other.foreach { case (kk, c) => buffer.update(kk, buffer.getOrElse(kk, 0L) + c) }
    if (buffer.size > k) {
      // subtract the (k+1)-th largest count from everything; at most k
      // strictly-positive counters survive (Mergeable Summaries, §3.1)
      val counts = buffer.valuesIterator.toArray
      java.util.Arrays.sort(counts)
      decrementAll(buffer, counts(counts.length - (k + 1)))
    }
    buffer
  }

  /** Subtract `by` from every counter, dropping those that reach zero. A
    * map must not change while iterated, so the keys are snapshotted. */
  private def decrementAll(buffer: mutable.Map[Any, Long], by: Long): Unit =
    buffer.keysIterator.toArray[Any].foreach { kk =>
      val c = buffer(kk)
      if (c <= by) buffer.remove(kk) else buffer.update(kk, c - by)
    }

  override def eval(buffer: mutable.Map[Any, Long]): Any =
    new GenericArrayData(buffer.keysIterator.toArray[Any].sorted(keys.ordering).map(keys.toOutput))

  override def serialize(buffer: mutable.Map[Any, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    buffer.foreach { case (kk, c) => keys.write(out, kk); out.writeLong(c) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.Map[Any, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val m = keys.newMap()
    for (_ <- 0 until in.readInt()) m.update(keys.read(in), in.readLong())
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren.head)
}

/** What [[MisraGriesAgg]] needs to know of its key type: the counter map,
  * the input-to-key conversion, the output order and element, and the
  * buffer serde of one key. */
private[functions] sealed abstract class MisraGriesKeys(
    val elementType: DataType, val prettyName: String) {
  def newMap(): mutable.Map[Any, Long]
  def fromInput(v: Any): Any
  def ordering: Ordering[Any]
  def toOutput(key: Any): Any
  def write(out: DataOutputStream, key: Any): Unit
  def read(in: DataInputStream): Any
}

private[functions] object MisraGriesKeys {
  /** String keys (`text_heavy_hitters`' tokens), held as java Strings. */
  object Strings extends MisraGriesKeys(StringType, "misra_gries") {
    def newMap(): mutable.Map[Any, Long] =
      mutable.HashMap.empty[String, Long].asInstanceOf[mutable.Map[Any, Long]]
    def fromInput(v: Any): Any = v.asInstanceOf[UTF8String].toString
    def ordering: Ordering[Any] = Ordering.String.asInstanceOf[Ordering[Any]]
    def toOutput(key: Any): Any = UTF8String.fromString(key.asInstanceOf[String])
    def write(out: DataOutputStream, key: Any): Unit = {
      val b = key.asInstanceOf[String].getBytes("UTF-8")
      out.writeInt(b.length); out.write(b)
    }
    def read(in: DataInputStream): Any = {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      new String(b, "UTF-8")
    }
  }

  /** Long keys, counted in a primitive `mutable.LongMap`: no
    * UTF8String→String conversion, no string hashing, ~3× less memory per
    * counter. For composite keys that pack into 64 bits (e.g. a part-pair
    * as `a<<32|b`) this is the form to use: at k=2²⁰ the string form
    * spends most of pass 1 materialising and hashing java Strings that
    * exist only to name a pair of ints. */
  object Longs extends MisraGriesKeys(LongType, "misra_gries_long") {
    def newMap(): mutable.Map[Any, Long] =
      mutable.LongMap.empty[Long].asInstanceOf[mutable.Map[Any, Long]]
    def fromInput(v: Any): Any = v
    def ordering: Ordering[Any] = Ordering.Long.asInstanceOf[Ordering[Any]]
    def toOutput(key: Any): Any = key
    def write(out: DataOutputStream, key: Any): Unit = out.writeLong(key.asInstanceOf[Long])
    def read(in: DataInputStream): Any = in.readLong()
  }
}

object SketchAgg {
  /** Column form: ≤k candidate items containing every value with frequency
    * > n/(k+1), sorted; `array<bigint>` over a bigint column, else
    * `array<string>`. */
  def misraGries(c: Column, k: Int): Column =
    GraftExprBridge.column(
      MisraGriesAgg(GraftExprBridge.expression(c), k).toAggregateExpression())
}
