package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level building blocks of the media container parsers: fixed-width
  * integer readers and the RIFF chunk walk (WAV and AVI are both RIFF).
  * Pure static functions, so [[MediaHeader.decode]] stays callable from
  * generated code. */
object MediaBytes {

  def le16(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  def le32(b: Array[Byte], i: Int): Int = le16(b, i) | (le16(b, i + 2) << 16)
  def be16(b: Array[Byte], i: Int): Int = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  def be32(b: Array[Byte], i: Int): Int = (be16(b, i) << 16) | be16(b, i + 2)

  /** Whether the four bytes at `i` spell the four-character code `fcc`. */
  def fourCC(b: Array[Byte], i: Int, fcc: String): Boolean =
    b(i) == fcc(0).toByte && b(i + 1) == fcc(1).toByte &&
      b(i + 2) == fcc(2).toByte && b(i + 3) == fcc(3).toByte

  /** A RIFF container whose form type is `form` ("WAVE", "AVI "). */
  def isRiff(b: Array[Byte], form: String): Boolean =
    b.length >= 12 && fourCC(b, 0, "RIFF") && fourCC(b, 8, form)

  /** Walk the RIFF chunks of `b[from, to)` at one nesting level, calling
    * `visit(at, size)` with each chunk header's offset and its payload
    * size. Only the 8-byte header is known to be in bounds when a chunk's
    * declared size overruns `to`: such a chunk is visited with size -1 and
    * ends the walk. The size is validated BEFORE advancing: a crafted size
    * near Int.MaxValue passes a sign check but overflows `at + 8 + size`
    * to negative, and on a 100 TB ingest path one bad file must not kill
    * the task. Chunks are word-aligned, so an odd size is followed by one
    * pad byte. */
  def riffChunks(b: Array[Byte], from: Int, to: Int)(visit: (Int, Int) => Unit): Unit = {
    var i = from
    while (i + 8 <= to) {
      val size = le32(b, i + 4)
      if (size < 0 || size > to - i - 8) { visit(i, -1); return }
      visit(i, size)
      i += 8 + size + (size & 1)
    }
  }
}

/** Pure-JVM media container-header decoding — PNG / JPEG / GIF / WAV
  * magic-byte parsing (all public formats: PNG RFC 2083 §3.1/IHDR,
  * JPEG ISO 10918 SOFn markers, GIF89a logical screen descriptor,
  * WAV/RIFF fmt chunk). No native deps, no image libs: the header carries
  * the dimensions/sample-rate in fixed fields, so decoding them is byte
  * arithmetic — exactly the metadata a 100 TB media-ingest pipeline
  * extracts before any pixel/sample work.
  */
object MediaHeader {
  import MediaBytes._

  val schema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits_per_sample", IntegerType)))

  private def row(format: String, width: Integer = null, height: Integer = null,
      rate: Integer = null, channels: Integer = null,
      bits: Integer = null): InternalRow =
    new GenericInternalRow(Array[Any](
      if (format == null) null else UTF8String.fromString(format),
      width, height, rate, channels, bits))

  private val Unknown = row(null)

  /** Parse a payload's container header; unrecognized bytes → all-null
    * fields (the struct itself stays non-null for non-null input). Called
    * from generated code — must stay a static-dispatch pure function. */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null) return Unknown
    // PNG: 8-byte signature, then the IHDR chunk is mandatory-first —
    // width/height are the first two BE32 fields of its payload.
    if (b.length >= 24 &&
        b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        b(4) == 0x0d && b(5) == 0x0a && b(6) == 0x1a && b(7) == 0x0a &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      return row("png", be32(b, 16), be32(b, 20))
    // JPEG: SOI then marker segments; dimensions live in the first SOFn
    // (C0-CF except C4 DHT / C8 JPG / CC DAC): [len][precision][h][w].
    if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 9 < b.length && (b(i) & 0xff) == 0xff) {
        val m = b(i + 1) & 0xff
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
          return row("jpeg", be16(b, i + 7), be16(b, i + 5))
        if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2 // standalone
        else i += 2 + be16(b, i + 2)
      }
      return row("jpeg")
    }
    // GIF: "GIF87a"/"GIF89a", logical screen descriptor is LE16 w/h at 6/8.
    if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      return row("gif", le16(b, 6), le16(b, 8))
    // WAV: RIFF/WAVE container; the first "fmt " chunk carries channels
    // at +2, sample rate at +4 and bits at +14 of its payload (all LE).
    // Fields are read only when that chunk's declared size is in bounds
    // and covers them (>= 16) — the rule Multimodal's WAV parse applies,
    // so the two surfaces agree on which containers have a format.
    if (isRiff(b, "WAVE")) {
      var hdr: InternalRow = null
      riffChunks(b, 12, b.length) { (at, size) =>
        if (hdr == null && fourCC(b, at, "fmt "))
          hdr = if (size >= 16)
            row("wav", rate = le32(b, at + 12), channels = le16(b, at + 10),
              bits = le16(b, at + 22))
          else row("wav")
      }
      return if (hdr == null) row("wav") else hdr
    }
    Unknown
  }

  def mediaHeader(content: Column): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      MediaHeaderExpr(org.apache.spark.sql.GraftExprBridge.expression(content)))
}

/** `media_header(binary)` → struct(format, width, height, sample_rate,
  * channels, bits_per_sample). Codegen dispatches to the compiled static
  * parser — no CodegenFallback boundary, one static call per row. */
case class MediaHeaderExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = MediaHeader.schema
  override def prettyName: String = "media_header"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.MediaHeader.decode($x);")

  override def nullSafeEval(input: Any): Any =
    MediaHeader.decode(input.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(c: Expression): MediaHeaderExpr =
    copy(child = c)
}
