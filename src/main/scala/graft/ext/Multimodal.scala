package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with typed metadata, and per-item decode/feature-extract
  * runs as a partition-local batch transform (SURVEY.md extensions).
  *
  * The heavy decode step (image decode, resample, frame extraction) is
  * STUBBED — the container has no media libraries — behind
  * [[FeatureExtractor]]; [[StubFeatureExtractor]] is a deterministic fake
  * whose outputs are pure functions of the bytes, so the surrounding Spark
  * plumbing (schema, batching, partitioning, join-back) is fully real and
  * testable. A production deployment swaps the extractor implementation
  * only; no plan shapes change.
  *
  * Scale posture: decode is embarrassingly parallel — `mapPartitions` keeps
  * per-executor batch state (a real decoder would init its codec once per
  * partition, exactly where `extractor.open()` runs), payloads never
  * shuffle, and the feature output is columnar-narrow (drop the bytes as
  * early as possible). Cheap byte-level features (length, magic-byte type
  * sniffing, md5 content id) stay in codegen'd built-ins.
  */
object Multimodal {

  /** One media item: opaque payload + typed metadata. */
  final case class MediaItem(item_id: Long, kind: String, payload: Array[Byte])

  /** Extracted feature row (fixed-width; a real pipeline would add an
    * embedding array here). */
  final case class MediaFeatures(item_id: Long, kind: String, byte_len: Long,
                                 checksum: Long, feat_mean: Double)

  /** Partition-local decoder contract: `open()` once per partition (codec
    * init), then `decode` per item. */
  trait FeatureExtractor extends Serializable {
    def open(): Unit = ()
    def decode(item: MediaItem): MediaFeatures
  }

  /** Deterministic fake decode: features derived only from the bytes.
    * Stands in for image-decode/resize/frame-sample (unavailable offline). */
  object StubFeatureExtractor extends FeatureExtractor {
    override def decode(item: MediaItem): MediaFeatures = {
      var sum = 0L
      var i = 0
      while (i < item.payload.length) { sum += (item.payload(i) & 0xff); i += 1 }
      val mean = if (item.payload.isEmpty) 0.0
        else sum.toDouble / item.payload.length
      MediaFeatures(item.item_id, item.kind, item.payload.length.toLong,
        sum, math.floor(mean * 1e6) / 1e6)
    }
  }

  /** The real Spark plumbing: batch feature extraction over partitions.
    * Payload bytes never leave the executor that scanned them. */
  def extractFeatures(items: Dataset[MediaItem],
                      extractor: FeatureExtractor): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    items.mapPartitions { it =>
      extractor.open()
      it.map(extractor.decode)
    }
  }

  /** Build a media table from `documents` by treating the text bytes as an
    * opaque payload — the driver testdata has no true binary columns, so
    * this is the deterministic stand-in that exercises the exact schema
    * (binary payload + metadata) end to end. */
  def documentsAsMedia(docs: DataFrame): Dataset[MediaItem] = {
    implicit val enc = Encoders.product[MediaItem]
    docs.select(col("doc_id").as("item_id"),
        col("source").as("kind"),
        col("text").cast("binary").as("payload"))
      .as[MediaItem]
  }

  /** One sampled frame: narrow row (length + checksum), bytes dropped at
    * the source per the module's scale posture. */
  final case class MediaFrame(item_id: Long, kind: String, frame_idx: Long,
                              frame_len: Long, frame_checksum: Long)

  /** Frame sampling — the 1-item → N-frames cardinality change of video
    * processing: take a `frameSize`-byte window every `everyNth` frame
    * (stride = frameSize × everyNth; the trailing frame may be short).
    * The decode is the same deterministic byte-window stub as
    * [[StubFeatureExtractor]] (no media libs offline); the REAL parts are
    * the fan-out shape — executor-local flatMap, payloads never shuffle,
    * output bounded by len/stride per item — and the narrow frame schema
    * downstream ops aggregate. */
  def sampleFrames(items: Dataset[MediaItem], frameSize: Int,
                   everyNth: Int): Dataset[MediaFrame] = {
    require(frameSize > 0 && everyNth > 0,
      s"need positive frameSize/everyNth: $frameSize, $everyNth")
    implicit val enc = Encoders.product[MediaFrame]
    val stride = frameSize.toLong * everyNth
    items.flatMap { item =>
      val n = item.payload.length.toLong
      (0L until n by stride).iterator.zipWithIndex.map { case (off, idx) =>
        val len = math.min(frameSize.toLong, n - off).toInt
        var sum = 0L
        var i = 0
        while (i < len) { sum += (item.payload(off.toInt + i) & 0xff); i += 1 }
        MediaFrame(item.item_id, item.kind, idx.toLong, len.toLong, sum)
      }
    }
  }

  /** Synthesize a REAL image-header payload per document: doc_id mod 4
    * picks PNG / JPEG / GIF / raw-text, and the header bytes are assembled
    * with codegen'd built-ins (hex-string concat → one `unhex`) so the
    * encoded dimensions are pure doc_id arithmetic an external oracle can
    * reproduce without parsing bytes:
    * `width = 16 + doc_id % 317`, `height = 16 + doc_id % 211`.
    * The headers are spec-valid PNG signature+IHDR, JPEG SOI+APP0+SOF0,
    * and GIF89a logical-screen-descriptor layouts — what
    * [[graft.functions.MediaDecode]] then decodes is the real byte format,
    * not an echo of the arithmetic. Raw payloads get a 0x00 prefix so no
    * text can ever alias an image signature. */
  def syntheticMediaPayloads(docs: DataFrame): DataFrame = {
    val w = (lit(16) + pmod(col("doc_id"), lit(317))).cast("int")
    val h = (lit(16) + pmod(col("doc_id"), lit(211))).cast("int")
    def hexBE(c: org.apache.spark.sql.Column, digits: Int) =
      lpad(hex(c), digits, "0")
    // GIF stores u16 little-endian: low byte first.
    def hexLE16(c: org.apache.spark.sql.Column) =
      concat(hexBE(pmod(c, lit(256)), 2), hexBE((c.cast("double") / 256.0).cast("int"), 2))
    val pngHex = concat(
      lit("89504E470D0A1A0A0000000D49484452"), // signature + len 13 + "IHDR"
      hexBE(w, 8), hexBE(h, 8),
      lit("080600000000000000")) // bit depth 8, RGBA, + placeholder CRC
    val jpegHex = concat(
      // SOI + APP0/JFIF (16-byte segment) + SOF0 marker/len/precision
      lit("FFD8FFE000104A46494600010100000100010000FFC0001108"),
      hexBE(h, 4), hexBE(w, 4), // SOF order is height THEN width
      lit("03012200021101031101FFD9")) // 3 components + EOI
    val gifHex = concat(
      lit("474946383961"), // "GIF89a"
      hexLE16(w), hexLE16(h),
      lit("F7000000")) // packed fields, bg color, aspect, padding
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(4)) === 0, unhex(pngHex))
        .when(pmod(col("doc_id"), lit(4)) === 1, unhex(jpegHex))
        .when(pmod(col("doc_id"), lit(4)) === 2, unhex(gifHex))
        .otherwise(concat(unhex(lit("00")),
          substring(col("text"), 1, 64).cast("binary")))
        .as("payload"))
  }

  /** Per-format dimension rollup over [[syntheticMediaPayloads]] decoded
    * by the REAL header parser ([[graft.functions.MediaDecode]]): the
    * oracle recomputes widths/heights from doc_id arithmetic, so any
    * offset/endianness mistake in the parser breaks the match. Unparsable
    * payloads roll up under 'unknown' with zero dims (decode errors are
    * data, never job failures). */
  def mediaDimsStats(docs: DataFrame): DataFrame = {
    val d = graft.functions.MediaFunctions.mediaDims(col("payload"))
    syntheticMediaPayloads(docs)
      .select(d.as("d"))
      .select(coalesce(col("d.media_format"), lit("unknown")).as("media_format"),
        coalesce(col("d.width"), lit(0)).as("w"),
        coalesce(col("d.height"), lit(0)).as("h"))
      .groupBy(col("media_format"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("w")).as("sum_width"),
        sum(col("h")).as("sum_height"),
        min(col("w")).cast("long").as("min_width"),
        max(col("h")).cast("long").as("max_height"))
      .orderBy(col("media_format"))
  }

  /** Synthesize a REAL audio-header payload per document, mirroring
    * [[syntheticMediaPayloads]]: doc_id mod 3 picks WAV / FLAC / raw, and
    * every header field is pure doc_id arithmetic an external oracle can
    * recompute without parsing bytes:
    * `rate = 8000 + (doc_id % 353) * 100`, `channels = 1 + doc_id % 2`,
    * `bits = 8 * (1 + doc_id % 4)`, `frames = 100 + doc_id % 1000`.
    * The WAV payload is a spec-valid RIFF/WAVE fmt+data chunk sequence
    * (little-endian, word-aligned walk) and the FLAC payload a spec-valid
    * STREAMINFO block (big-endian sub-byte bit fields) — so what
    * [[graft.functions.AudioDecode]] exercises is the real byte format in
    * both endiannesses, not an echo of the arithmetic. */
  def syntheticAudioPayloads(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    val rate = (lit(8000) + pmod(col("doc_id"), lit(353)) * 100).cast("int")
    val ch = (lit(1) + pmod(col("doc_id"), lit(2))).cast("int")
    val bits = (lit(8) * (lit(1) + pmod(col("doc_id"), lit(4)))).cast("int")
    val frames = (lit(100) + pmod(col("doc_id"), lit(1000))).cast("int")
    // Column./ is double division; the product is a multiple of 8, so the
    // quotient is integral and the int cast is exact.
    val blockAlign = ((ch * bits) / lit(8)).cast("int")
    val byteRate = rate * blockAlign
    val dataLen = frames * blockAlign
    def hexBE(c: Column, digits: Int) = lpad(hex(c), digits, "0")
    def byteAt(c: Column, shift: Int) =
      hexBE(pmod(shiftright(c, shift), lit(256)), 2)
    def hexLE16(c: Column) = concat(byteAt(c, 0), byteAt(c, 8))
    def hexLE32(c: Column) =
      concat(byteAt(c, 0), byteAt(c, 8), byteAt(c, 16), byteAt(c, 24))
    val wavHex = concat(
      lit("52494646"), hexLE32(lit(36) + dataLen), lit("57415645"), // RIFF/WAVE
      lit("666D7420"), lit("10000000"), lit("0100"), // "fmt ", len 16, PCM
      hexLE16(ch), hexLE32(rate), hexLE32(byteRate),
      hexLE16(blockAlign), hexLE16(bits),
      lit("64617461"), hexLE32(dataLen)) // "data" + declared size, no body
    // FLAC STREAMINFO packed tail: rate(20) | ch-1(3) | bits-1(5) |
    // samples(36), big-endian across byte boundaries.
    val b18 = hexBE(shiftright(rate, 12), 2)
    val b19 = hexBE(pmod(shiftright(rate, 4), lit(256)), 2)
    val b20 = hexBE(
      pmod(rate, lit(16)) * 16 + (ch - 1) * 2 + shiftright(bits - 1, 4), 2)
    val b21 = hexBE(pmod(bits - 1, lit(16)) * 16, 2) // samples < 2^32: high nibble 0
    val flacHex = concat(
      lit("664C6143"), // "fLaC"
      lit("80000022"), // last-block | STREAMINFO, length 34
      lit("10001000"), // min/max block size 4096
      lit("000000000000"), // min/max frame size unknown
      b18, b19, b20, b21, hexBE(frames, 8),
      lit("0" * 32)) // md5 placeholder
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(3)) === 0, unhex(wavHex))
        .when(pmod(col("doc_id"), lit(3)) === 1, unhex(flacHex))
        .otherwise(concat(unhex(lit("00")),
          substring(col("text"), 1, 64).cast("binary")))
        .as("payload"))
  }

  /** Per-format audio rollup over [[syntheticAudioPayloads]] decoded by
    * the REAL header parser ([[graft.functions.AudioDecode]]) — same
    * contract as [[mediaDimsStats]]: the oracle recomputes every field
    * from doc_id arithmetic, so any offset/endianness/bit-shift mistake
    * in the parser breaks the hash match. */
  def audioInfoStats(docs: DataFrame): DataFrame = {
    val a = graft.functions.AudioFunctions.audioInfo(col("payload"))
    syntheticAudioPayloads(docs)
      .select(a.as("a"))
      .select(coalesce(col("a.audio_format"), lit("unknown")).as("audio_format"),
        coalesce(col("a.sample_rate"), lit(0)).as("rate"),
        coalesce(col("a.channels"), lit(0)).as("ch"),
        coalesce(col("a.bits_per_sample"), lit(0)).as("bits"),
        coalesce(col("a.duration_ms"), lit(0L)).as("dur"))
      .groupBy(col("audio_format"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("rate")).as("sum_sample_rate"),
        sum(col("ch")).as("sum_channels"),
        sum(col("bits")).as("sum_bits"),
        sum(col("dur")).as("sum_duration_ms"))
      .orderBy(col("audio_format"))
  }

  /** Rollup of extracted features per kind — the query surface the driver
    * oracles (byte-sum/byte-len are engine-portable functions of the
    * payload). */
  def mediaFeatureStats(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    extractFeatures(documentsAsMedia(docs), StubFeatureExtractor)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("byte_len")).as("total_bytes"),
        sum(col("checksum")).as("total_checksum"),
        round(avg(col("feat_mean")), 4).as("avg_feat_mean"))
      .orderBy(col("kind"))
  }
}
