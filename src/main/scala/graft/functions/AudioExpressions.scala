package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Real audio-header decoding over opaque `binary` payloads — the audio
  * counterpart of [[MediaDecode]] (same contract: header layouts are
  * public byte formats needing no codec; corrupt/truncated payloads
  * decode to NULL, never a job failure):
  *
  *  - WAV: RIFF container — "RIFF" + u32 size + "WAVE", then a CHUNK WALK
  *    (id + u32 LE length, word-aligned) to the "fmt " chunk for
  *    channels/sample-rate/bits and the "data" chunk for the declared
  *    payload size (duration = declared bytes / byte-rate). Everything is
  *    LITTLE-endian u16/u32 (RIFF spec; WAVEFORMAT).
  *  - FLAC: "fLaC" + STREAMINFO metadata block, whose tail packs
  *    sample rate (20 bits), channels-1 (3 bits), bits-per-sample-1
  *    (5 bits) and total samples (36 bits) into 8 BIG-endian bytes
  *    (FLAC format spec §STREAMINFO) — genuine sub-byte bit-field
  *    parsing, a different decode shape from WAV's chunk walk.
  */
private[functions] object AudioDecode {

  /** Result schema of [[AudioInfoExpr]]. Non-nullable fields: a failed
    * parse nulls the whole struct instead. */
  val infoSchema: StructType = StructType(Seq(
    StructField("audio_format", StringType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  private def le16(b: Array[Byte], i: Int): Int =
    ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)

  private def le32(b: Array[Byte], i: Int): Long =
    ((b(i + 3) & 0xffL) << 24) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 1) & 0xffL) << 8) | (b(i) & 0xffL)

  private def ascii4(b: Array[Byte], i: Int, s: String): Boolean =
    b(i) == s.charAt(0) && b(i + 1) == s.charAt(1) &&
      b(i + 2) == s.charAt(2) && b(i + 3) == s.charAt(3)

  private def row(fmt: String, rate: Int, ch: Int, bits: Int,
                  durMs: Long): InternalRow =
    if (rate > 0 && ch > 0 && bits > 0 && durMs >= 0)
      new GenericInternalRow(
        Array[Any](UTF8String.fromString(fmt), rate, ch, bits, durMs))
    else null

  /** Decode (format, sample_rate, channels, bits, duration_ms) from the
    * header bytes, or null when no signature matches / the header is
    * truncated or inconsistent. Static so generated code calls it
    * directly (same pattern as [[MediaDecode.dimsRow]]). */
  def infoRow(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    // ---- WAV: RIFF chunk walk ------------------------------------------
    if (b.length >= 12 && ascii4(b, 0, "RIFF") && ascii4(b, 8, "WAVE")) {
      var rate = 0; var ch = 0; var bits = 0; var byteRate = 0L
      var dataLen = -1L
      // walk chunks: [id(4) len(4 LE) body(len, word-aligned)]. The body
      // may be truncated in a header-only payload — only "fmt " requires
      // its bytes to be present; "data" just declares its size. The cursor
      // and step stay in Long arithmetic: len is an UNTRUSTED u32, and a
      // truncating .toInt makes len=0xFFFFFFF8 step by 0 (executor spin)
      // or drive the cursor negative (AIOOBE) — with Long math the step is
      // always >= 8, so a corrupt length just walks past the end and the
      // loop exits (decode-to-NULL contract holds for any byte soup).
      var i = 12L
      while (i + 8 <= b.length) {
        val o = i.toInt // i + 8 <= length, so i fits in Int
        val len = le32(b, o + 4)
        if (ascii4(b, o, "fmt ")) {
          if (len < 16 || i + 8 + 16 > b.length) return null
          ch = le16(b, o + 10)
          rate = le32(b, o + 12).toInt
          byteRate = le32(b, o + 16)
          bits = le16(b, o + 22)
        } else if (ascii4(b, o, "data")) {
          dataLen = len
        }
        i += 8L + len + (len & 1L) // chunks are word-aligned
      }
      if (rate <= 0 || ch <= 0 || bits <= 0 || dataLen < 0) return null
      // consistency: byteRate must be rate*ch*bits/8 (catches bit rot in
      // any of the four fields the duration math depends on)
      if (byteRate != rate.toLong * ch * bits / 8) return null
      return row("wav", rate, ch, bits, dataLen * 1000L / byteRate)
    }
    // ---- FLAC: STREAMINFO bit fields -----------------------------------
    // "fLaC" + block header (1B flags/type + 3B BE length), STREAMINFO
    // packed tail at block offset 10: rrrrrrrr rrrrrrrr rrrrccc bbbbb then
    // 36 bits of total samples. 8 + 26 bytes reaches through the count.
    if (b.length >= 34 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' &&
        b(3) == 'C' && (b(4) & 0x7f) == 0) { // first block must be STREAMINFO
      val o = 8 + 10
      val rate = ((b(o) & 0xff) << 12) | ((b(o + 1) & 0xff) << 4) |
        ((b(o + 2) & 0xf0) >> 4)
      val ch = ((b(o + 2) >> 1) & 0x7) + 1
      val bits = (((b(o + 2) & 1) << 4) | ((b(o + 3) & 0xf0) >> 4)) + 1
      val samples = ((b(o + 3) & 0x0fL) << 32) |
        ((b(o + 4) & 0xffL) << 24) | ((b(o + 5) & 0xffL) << 16) |
        ((b(o + 6) & 0xffL) << 8) | (b(o + 7) & 0xffL)
      if (rate <= 0) return null
      return row("flac", rate, ch, bits, samples * 1000L / rate)
    }
    null
  }
}

/** `audio_info(payload)` → struct(audio_format, sample_rate, channels,
  * bits_per_sample, duration_ms), null when the payload is not a
  * recognizable WAV/FLAC. Runs as a static call inside whole-stage
  * codegen, same as [[MediaDimsExpr]]. */
case class AudioInfoExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"audio_info expects binary, got ${t.catalogString}")
  }

  override def dataType: DataType = AudioDecode.infoSchema

  override def nullable: Boolean = true

  override def prettyName: String = "audio_info"

  override def nullSafeEval(input: Any): Any =
    AudioDecode.infoRow(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, bytes => {
      s"""
         |${ev.value} = graft.functions.AudioDecode.infoRow($bytes);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): AudioInfoExpr =
    copy(child = newChild)
}

/** Column-level entry point for [[AudioInfoExpr]]. */
object AudioFunctions {
  def audioInfo(payload: Column): Column =
    Bridge.column(AudioInfoExpr(Bridge.expression(payload)))
}
