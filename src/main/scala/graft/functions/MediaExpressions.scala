package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Real image-header decoding over opaque `binary` payload columns — the
  * first NON-stubbed stage of the multimodal surface (`graft.ext.Multimodal`
  * keeps the codec-requiring stages stubbed; header layouts are public byte
  * formats needing no library):
  *
  *  - PNG: 8-byte signature then the IHDR chunk — width/height are
  *    big-endian u32 at offsets 16/20 (PNG spec §5.2, §11.2.2).
  *  - JPEG: SOI marker then a segment walk to the first SOF frame header —
  *    height/width are big-endian u16 at offsets +5/+7 inside SOF
  *    (ITU T.81 §B.2.2); DHT/DAC/JPGn markers in the C0-CF range are NOT
  *    frame headers and are skipped.
  *  - GIF: "GIF87a"/"GIF89a" then the logical screen descriptor —
  *    width/height are LITTLE-endian u16 at offsets 6/8 (GIF89a spec §18).
  *
  * Unrecognized, truncated, or corrupt payloads decode to NULL (a quality
  * funnel filters them; a decode error must never fail a 100 TB scan).
  */
private[functions] object MediaDecode {

  /** Result schema of [[MediaDimsExpr]]. Fields are non-nullable because a
    * failed parse nulls the whole struct instead. */
  val dimsSchema: StructType = StructType(Seq(
    StructField("media_format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  private def le16(b: Array[Byte], i: Int): Int =
    ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)

  /** SOF0-SOF15 carry frame dimensions, EXCEPT C4 (DHT), C8 (JPG
    * extension), CC (DAC), which share the C0-CF range but are tables. */
  private def isSof(m: Int): Boolean =
    m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc

  private def row(fmt: String, w: Int, h: Int): InternalRow =
    if (w > 0 && h > 0)
      new GenericInternalRow(Array[Any](UTF8String.fromString(fmt), w, h))
    else null

  /** Decode (format, width, height) from the payload's header bytes, or
    * null if no known signature matches / the header is truncated.
    * Public + static so generated code can call it directly (the JVM
    * inlines it; the parse is a few dozen byte reads). */
  def dimsRow(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    // PNG: signature 89 'P' 'N' 'G' 0D 0A 1A 0A, then len(4) + "IHDR" +
    // width(4 BE) + height(4 BE). 24 bytes reaches through height.
    if (b.length >= 24 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
        b(2) == 'N' && b(3) == 'G' && (b(4) & 0xff) == 0x0d &&
        (b(5) & 0xff) == 0x0a && (b(6) & 0xff) == 0x1a &&
        (b(7) & 0xff) == 0x0a) {
      // first chunk must be IHDR (spec-mandated); anything else is corrupt
      if (b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        return row("png", be32(b, 16), be32(b, 20))
      return null
    }
    // JPEG: FF D8 (SOI), then FF-prefixed segments until a SOF frame
    // header: [FF mk len_hi len_lo precision h_hi h_lo w_hi w_lo ...].
    if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xff) != 0xff) return null // marker desync: corrupt
        val m = b(i + 1) & 0xff
        if (m == 0xff) i += 1 // fill byte before marker
        else if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
          i += 2 // standalone markers: no length field
        } else if (m == 0xd9) {
          return null // EOI before any SOF: no dimensions present
        } else {
          val len = be16(b, i + 2)
          if (len < 2) return null
          if (isSof(m)) {
            if (i + 9 > b.length) return null // truncated SOF
            return row("jpeg", be16(b, i + 7), be16(b, i + 5))
          }
          i += 2 + len
        }
      }
      return null
    }
    // GIF: "GIF87a" / "GIF89a", then logical screen w/h as LE u16.
    if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      return row("gif", le16(b, 6), le16(b, 8))
    null
  }
}

/** `media_dims(payload)` → struct(media_format, width, height), null when
  * the payload is not a recognizable PNG/JPEG/GIF. The parse runs as a
  * static call inside whole-stage codegen — no UDF serialization, no
  * interpreter fallback — so sniffing dimensions across a 100 TB media
  * corpus is one codegen'd projection over the scan. */
case class MediaDimsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"media_dims expects binary, got ${t.catalogString}")
  }

  override def dataType: DataType = MediaDecode.dimsSchema

  override def nullable: Boolean = true

  override def prettyName: String = "media_dims"

  override def nullSafeEval(input: Any): Any =
    MediaDecode.dimsRow(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, bytes => {
      s"""
         |${ev.value} = graft.functions.MediaDecode.dimsRow($bytes);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MediaDimsExpr =
    copy(child = newChild)
}

/** Column-level entry point for [[MediaDimsExpr]]. */
object MediaFunctions {
  def mediaDims(payload: Column): Column =
    Bridge.column(MediaDimsExpr(Bridge.expression(payload)))
}
