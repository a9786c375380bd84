package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (LLM-pipeline extension): treat image/audio/
  * video as opaque `binary` columns with typed metadata, and run decode /
  * feature-extraction as BATCHED per-partition transforms.
  *
  * Stub/real split: FORMAT PARSING IS REAL — this file contains working
  * header decoders for PNG/BMP/JPEG/GIF/WAV/MP4 containers, a full 24-bpp
  * BMP encoder/decoder (bottom-up BGR pixel walk), aHash/dHash/pHash
  * perceptual hashing over decoded pixels, and luminance/entropy pixel
  * censuses. Only the CONTENT decode of codecs absent from this container
  * (JPEG entropy-coded scans, audio samples, video frames) is stubbed:
  * `decodeStub` derives a deterministic fake feature vector from payload
  * bytes, behind the same batched per-partition shape a real vectorized
  * codec call takes (fixed-size batches, no shuffle, no driver collection),
  * so swapping in a real codec is a one-function change.
  */
object MultimodalOps {

  /** Attach a binary payload + metadata struct to each document. The payload
    * here is the utf-8 text bytes standing in for real media bytes; metadata
    * mimics a decoded-asset descriptor (mime, byte size, fake dimensions).
    */
  def attachBinary(docs: DataFrame): DataFrame =
    docs
      .withColumn("payload", encode(col("text"), "UTF-8").cast("binary"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .withColumn("meta", struct(
        when(col("source") === "src0", "image/png")
          .when(col("source") === "src1", "audio/wav")
          .otherwise("video/mp4").as("mime"),
        col("n_bytes").as("n_bytes"),
        (col("n_bytes") % 640 + 1).cast("int").as("width"),
        (col("n_bytes") % 480 + 1).cast("int").as("height")))

  /** Batched per-partition "decode": groups rows into fixed-size batches and
    * maps each batch through the (stubbed) decoder — the same shape a real
    * vectorized image/audio decode takes (decode N assets per native call),
    * with no shuffle and no driver involvement.
    */
  final case class DecodedFeatures(doc_id: Long, n_bytes: Int, features: Array[Float])

  def decodeFeatures(docs: DataFrame, batchSize: Int = 64): Dataset[DecodedFeatures] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // === STUB: real implementation decodes the media batch here ===
          // (e.g. JNI/FFI call decoding `batch.map(_._2)` in one shot).
          // The fake derives 8 deterministic floats from the bytes so the
          // pipeline shape and determinism are testable without codecs.
          batch.map { case (id, bytes) => DecodedFeatures(id, bytes.length, decodeStub(bytes)) }
        }
      }
  }

  /** Deterministic fake "decoder": one feature per payload OCTANT — the
    * MD5-61 hash of the chunk's bytes (the same kernel as the dedup family)
    * scaled into [0, 1). Chunk j covers bytes [⌊j·n/8⌋, ⌊(j+1)·n/8⌋), the
    * byte-level shape of per-frame features. Being MD5-based, the whole
    * stub is replayable in SQL (`md5_number_lower` over char substrings —
    * identical to byte chunks for any single-byte encoding), so the query
    * has a full DuckDB oracle instead of a rows-only check.
    */
  private[ops] def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val out = new Array[Float](8)
    val n = bytes.length
    var j = 0
    while (j < 8) {
      val from = (j.toLong * n / 8).toInt
      val until = ((j + 1).toLong * n / 8).toInt
      val h = graft.functions.Md5Hash61.hash61(java.util.Arrays.copyOfRange(bytes, from, until))
      out(j) = (h.toDouble / 2305843009213693952.0).toFloat // h / 2^61 ∈ [0,1)
      j += 1
    }
    out
  }

  /** Synthesize a VALID media header per document — the fixture for the
    * real header decode in [[decodeDims]]. `src0` docs get a PNG signature +
    * IHDR chunk (width/height as BIG-endian u32 at offsets 16/20, bit depth
    * at 24 — the public PNG layout), `src1` docs get a BMP file header +
    * BITMAPINFOHEADER (width/height as LITTLE-endian i32 at offsets 18/22,
    * bits-per-pixel as LE u16 at 28), `src2` docs get a JPEG prefix — SOI,
    * a JFIF APP0, a VARIABLE-length COM segment (length derived from
    * doc_id, so a fixed-offset "parser" cannot fake the walk), a DQT, then
    * SOF0 (baseline, 8-bit) or SOF2 (progressive, 12-bit) carrying height
    * THEN width as big-endian u16 (the JPEG field order), `src3` docs get a
    * GIF89a signature + logical screen descriptor (width/height LE u16 at
    * 6/8, color resolution in bits 6–4 of the packed byte) — everything
    * else keeps opaque text bytes. Dimensions derive deterministically from
    * `doc_id`, so an oracle can state the expected decode without byte math
    * while the Spark side only learns them by PARSING the bytes it just
    * wrote — endianness, offset, or marker-walk mistakes in either
    * direction break the round trip.
    *
    * Byte assembly is pure codegen'd column work: `unhex(lpad(hex(x)))` is
    * the int→big-endian-bytes bridge, LE is the same four hex pairs
    * reversed. No UDF, no driver loop.
    */
  // int→bytes column bridges, shared by every header fixture: hex() then
  // unhex() is the codegen'd way to emit an integer as raw bytes; LE forms
  // are the same hex pairs reversed. No UDF, no driver loop.
  private def be32(c: Column): Column = unhex(lpad(hex(c), 8, "0"))
  private def be16(c: Column): Column = unhex(lpad(hex(c), 4, "0"))
  private def le32(c: Column): Column = {
    val hx = lpad(hex(c), 8, "0")
    unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
      substring(hx, 3, 2), substring(hx, 1, 2)))
  }
  private def le16(c: Column): Column = {
    val hx = lpad(hex(c), 4, "0")
    unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
  }
  private def u8(c: Column): Column = unhex(lpad(hex(c), 2, "0"))
  private def ascii(s: String): Column = lit(s.getBytes("US-ASCII"))

  def attachMediaHeader(docs: DataFrame): DataFrame = {
    val w = (col("doc_id") % 640 + 1).cast("int")
    val h = (col("doc_id") % 480 + 1).cast("int")
    // PNG bit depth alternates 8/16; BMP bits-per-pixel alternates 24/32;
    // JPEG precision alternates 8 (SOF0 baseline) / 12 (SOF2 progressive)
    val pngDepth = when(col("doc_id") % 2 === 0, 8).otherwise(16).cast("int")
    val bmpBpp = when(col("doc_id") % 2 === 0, 24).otherwise(32).cast("int")
    val pngHeader = concat(
      lit(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)),
      lit(Array[Byte](0, 0, 0, 13)), lit("IHDR".getBytes("US-ASCII")),
      be32(w), be32(h), u8(pngDepth),
      // color type 2 (truecolor), compression 0, filter 0, interlace 0
      lit(Array[Byte](2, 0, 0, 0)))
    val bmpHeader = concat(
      lit("BM".getBytes("US-ASCII")),
      le32(lit(54).cast("int")),        // file size (header-only fixture)
      lit(Array[Byte](0, 0, 0, 0)),     // reserved
      le32(lit(54).cast("int")),        // pixel-data offset
      le32(lit(40).cast("int")),        // BITMAPINFOHEADER size
      le32(w), le32(h),
      lit(Array[Byte](1, 0)),           // planes = 1 (LE u16)
      u8(bmpBpp), lit(Array[Byte](0)))  // bpp LE u16 (high byte 0)
    // JPEG: a segment's 2-byte length covers itself + payload (not the
    // marker). COM payload length varies with doc_id to force a real walk.
    val nCom = (col("doc_id") % 17 + 1).cast("int")
    val sofMarker = when(col("doc_id") % 2 === 0, 0xC0).otherwise(0xC2).cast("int")
    val jpegPrecision = when(col("doc_id") % 2 === 0, 8).otherwise(12).cast("int")
    val jpegHeader = concat(
      lit(Array(0xFF, 0xD8).map(_.toByte)),                 // SOI
      lit(Array(0xFF, 0xE0, 0x00, 0x10).map(_.toByte)),     // APP0, len 16
      lit("JFIF".getBytes("US-ASCII")), lit(Array[Byte](0)),
      lit(Array[Byte](1, 1, 0, 0, 1, 0, 1, 0, 0)),          // v1.1, no density/thumb
      lit(Array[Byte](0xFF.toByte, 0xFE.toByte)),           // COM marker
      be16(nCom + 2), encode(repeat(lit("x"), nCom), "UTF-8").cast("binary"),
      lit(Array(0xFF, 0xDB, 0x00, 0x43, 0x00).map(_.toByte)), // DQT, len 67, pq/tq
      encode(repeat(lit("q"), 64), "UTF-8").cast("binary"), // dummy 8-bit q-table
      lit(Array[Byte](0xFF.toByte)), u8(sofMarker),         // SOF0 | SOF2
      lit(Array[Byte](0, 17)),                              // len 8 + 3·3
      u8(jpegPrecision), be16(h), be16(w),                  // precision, HEIGHT, WIDTH
      lit(Array[Byte](3)),                                  // 3 components (YCbCr)
      lit(Array[Byte](1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)))
    // GIF89a logical screen descriptor: 6-byte signature, width/height as
    // LE u16 at 6/8, then the packed byte whose bits 6–4 hold color
    // resolution − 1 (GIF89a spec §18) — depth alternates 4/8
    val gifCr = when(col("doc_id") % 2 === 0, 4).otherwise(8).cast("int")
    val gifHeader = concat(
      ascii("GIF89a"),
      le16(w), le16(h),
      u8((gifCr - 1) * 16),             // packed: GCT off, sort off, size 0
      lit(Array[Byte](0, 0)))           // background index, aspect ratio
    docs.withColumn("payload",
      when(col("source") === "src0", pngHeader)
        .when(col("source") === "src1", bmpHeader)
        .when(col("source") === "src2", jpegHeader)
        .when(col("source") === "src3", gifHeader)
        .otherwise(encode(col("text"), "UTF-8").cast("binary")))
  }

  /** Decoded header dimensions; `None` columns mean the format is opaque to
    * the header parser (the disclosed stub path). */
  final case class DecodedDims(doc_id: Long, format: String,
                               width: Option[Int], height: Option[Int],
                               bit_depth: Option[Int])

  /** REAL header decode over the binary `payload` column: PNG and BMP
    * dimensions parsed at their public fixed offsets (PNG IHDR big-endian,
    * BMP info-header little-endian) in pure JVM byte arithmetic — no codec
    * dependency — batched per partition exactly like [[decodeFeatures]], so
    * swapping in a full pixel decoder keeps the same plumbing. Unknown
    * formats fall through to the disclosed opaque stub (null dims) instead
    * of failing the batch.
    */
  def decodeDims(docs: DataFrame, batchSize: Int = 64): Dataset[DecodedDims] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, bytes) =>
            val (fmt, w, h, d) = parseHeader(bytes)
            DecodedDims(id, fmt, w, h, d)
          }
        }
      }
  }

  /** Pure-byte header parse — PNG: 8-byte signature then IHDR (width BE u32
    * at 16, height BE u32 at 20, bit depth at 24); BMP: "BM" then width LE
    * i32 at 18, height LE i32 at 22, bpp LE u16 at 28; JPEG: SOI then a
    * marker WALK to the first SOFn frame header (see [[jpegSofDims]]).
    * Public format knowledge only (PNG spec §11.2.2, BMP BITMAPINFOHEADER
    * layout, ITU T.81 §B.2).
    */
  private[ops] def parseHeader(bytes: Array[Byte])
      : (String, Option[Int], Option[Int], Option[Int]) = {
    def u8(i: Int): Int = bytes(i) & 0xFF
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    val isPng = bytes.length >= 25 &&
      u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G' &&
      u8(4) == 0x0D && u8(5) == 0x0A && u8(6) == 0x1A && u8(7) == 0x0A &&
      u8(12) == 'I' && u8(13) == 'H' && u8(14) == 'D' && u8(15) == 'R'
    val isJpeg = !isPng && bytes.length >= 4 && u8(0) == 0xFF && u8(1) == 0xD8
    val isBmp = !isPng && !isJpeg && bytes.length >= 30 && u8(0) == 'B' && u8(1) == 'M'
    // GIF87a/GIF89a: 6-byte version signature, then the logical screen
    // descriptor — width/height LE u16 at 6/8, color resolution in bits
    // 6–4 of the packed byte at 10 (GIF89a spec §17–18)
    val isGif = !isPng && !isJpeg && !isBmp && bytes.length >= 13 &&
      u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == '8' &&
      (u8(4) == '7' || u8(4) == '9') && u8(5) == 'a'
    if (isPng) ("png", Some(be32(16)), Some(be32(20)), Some(u8(24)))
    else if (isGif)
      ("gif", Some(le16(6)), Some(le16(8)), Some(((u8(10) >> 4) & 7) + 1))
    else if (isJpeg) jpegSofDims(bytes) match {
      // a JPEG prefix with no reachable SOF (truncated, or SOS first) keeps
      // the format tag but degrades to null dims — same defensive contract
      // as the opaque branch, never a thrown batch
      case Some((w, h, prec)) => ("jpeg", Some(w), Some(h), Some(prec))
      case None => ("jpeg", None, None, None)
    }
    else if (isBmp) ("bmp", Some(le32(18)), Some(le32(22)), Some(le16(28)))
    else ("opaque", None, None, None)
  }

  /** JPEG frame-dimension scan (ITU T.81 §B.2): walk the marker segments
    * after SOI — each marked `FF xx` with a big-endian u16 length that
    * counts itself plus payload — to the first SOFn (C0–CF minus C4/C8/CC,
    * which are DHT/JPG/DAC, not frame headers). The SOF payload is
    * precision u8, then HEIGHT, then WIDTH (both BE u16 — the reverse of
    * most formats' order). Standalone markers (TEM, RSTn, SOI) have no
    * length and are skipped; fill bytes (repeated FF) before a marker are
    * legal padding; EOI or SOS before any SOF means the dimensions are
    * unreachable in a header-only scan → None.
    */
  private[ops] def jpegSofDims(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    def u8(i: Int): Int = bytes(i) & 0xFF
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    var i = 2 // past SOI
    while (i + 1 < bytes.length) {
      if (u8(i) != 0xFF) return None // not at a marker: corrupt stream
      var j = i + 1
      while (j < bytes.length && u8(j) == 0xFF) j += 1 // fill bytes
      if (j >= bytes.length) return None
      val m = u8(j)
      if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) {
        if (j + 7 >= bytes.length) return None // truncated SOF
        return Some((be16(j + 6), be16(j + 4), u8(j + 3))) // (width, height, precision)
      } else if (m == 0xD9 || m == 0xDA) {
        return None // EOI / SOS: no frame header in the metadata section
      } else if (m == 0x01 || (m >= 0xD0 && m <= 0xD8)) {
        i = j + 1 // standalone marker, no length field
      } else {
        if (j + 2 >= bytes.length) return None
        val len = be16(j + 1)
        if (len < 2) return None // malformed length
        i = j + 1 + len
      }
    }
    None
  }

  /** "Frame sampling" over a binary payload: every k-th fixed-size chunk —
    * the byte-level shape of video frame extraction, as a column expression
    * (no decode, pure slicing).
    */
  def sampleChunks(docs: DataFrame, chunkBytes: Int = 16, everyK: Int = 4): DataFrame =
    docs
      .withColumn("payload", encode(col("text"), "UTF-8").cast("binary"))
      .withColumn("n_chunks",
        ceil(length(col("payload")) / lit(chunkBytes.toDouble)).cast("int"))
      .withColumn("sampled_chunks",
        expr(s"transform(filter(sequence(0, n_chunks - 1), i -> i % $everyK = 0), " +
          s"i -> substring(payload, i * $chunkBytes + 1, $chunkBytes))"))
      .select(col("doc_id"), col("n_chunks"), size(col("sampled_chunks")).as("n_sampled"))

  // ====================== Audio: WAV / RIFF ===========================

  /** Synthesize a VALID WAV header per document with `length(source) = 4`
    * (src0–src9); other sources keep opaque text bytes, pinning the
    * degraded path. The RIFF layout is the public one (RIFF size + WAVE,
    * then chunks, each `id(4) sizeLE(4) payload [pad to even]`): a
    * VARIABLE-length LIST/INFO chunk comes BEFORE `fmt ` — its size is
    * doc_id-derived and frequently ODD, so a parser that skips chunks
    * without the RIFF even-byte pad, or assumes fmt at a fixed offset,
    * breaks the round trip. `data` carries only its declared size (header-
    * only fixture, like the BMP one). All audio parameters derive from
    * doc_id:   channels = doc_id%2+1, sample_rate ∈ {8000,16000,22050,
    * 44100,48000} by doc_id%5, bits = 8·(doc_id%3+1), n_frames =
    * doc_id%1000+1.
    */
  def attachWavHeader(docs: DataFrame): DataFrame = {
    val channels = (col("doc_id") % 2 + 1).cast("int")
    val rate = element_at(
      array(lit(8000), lit(16000), lit(22050), lit(44100), lit(48000)),
      (col("doc_id") % 5 + 1).cast("int"))
    val bits = ((col("doc_id") % 3 + 1) * 8).cast("int")
    val blockAlign = (channels * bits / 8).cast("int")
    val byteRate = (rate * blockAlign).cast("int")
    val nFrames = (col("doc_id") % 1000 + 1).cast("int")
    val dataLen = (nFrames * blockAlign).cast("int")
    val nInfo = (col("doc_id") % 13 + 3).cast("int")      // INFO payload bytes
    val listLen = (nInfo + 4).cast("int")                 // "INFO" + payload
    val listPad = (listLen % 2).cast("int")               // RIFF even-byte pad
    // RIFF size counts everything after itself: "WAVE" + LIST chunk (+pad)
    // + fmt chunk + data chunk header + declared (absent) data bytes
    val riffSize = (lit(4) + lit(8) + listLen + listPad + lit(8 + 16) + lit(8) + dataLen).cast("int")
    val wav = concat(
      ascii("RIFF"), le32(riffSize), ascii("WAVE"),
      ascii("LIST"), le32(listLen), ascii("INFO"),
      encode(repeat(lit("i"), nInfo), "UTF-8").cast("binary"),
      when(listPad === 1, lit(Array[Byte](0))).otherwise(lit(Array.empty[Byte])),
      ascii("fmt "), le32(lit(16)),
      le16(lit(1)), le16(channels), le32(rate), le32(byteRate),
      le16(blockAlign), le16(bits),
      ascii("data"), le32(dataLen))
    docs.withColumn("payload",
      when(length(col("source")) === 4, wav)
        .otherwise(encode(col("text"), "UTF-8").cast("binary")))
  }

  /** Decoded audio metadata; `None` columns mean the payload is opaque to
    * the header parser or the WAV was malformed. */
  final case class DecodedAudio(doc_id: Long, format: String,
                                channels: Option[Int], sample_rate: Option[Int],
                                bits_per_sample: Option[Int], n_frames: Option[Long],
                                duration_ms: Option[Long])

  /** REAL WAV header decode over the binary `payload` column — RIFF chunk
    * walk in pure JVM byte arithmetic, batched per partition like
    * [[decodeFeatures]]. Per-row work only: at corpus scale this runs at
    * scan speed with no shuffle.
    */
  def decodeAudioMeta(docs: DataFrame, batchSize: Int = 64): Dataset[DecodedAudio] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, bytes) =>
            val (fmt, ch, sr, bps, nf, ms) = parseWavHeader(bytes)
            DecodedAudio(id, fmt, ch, sr, bps, nf, ms)
          }
        }
      }
  }

  /** Pure-byte WAV parse (public RIFF/WAVE layout): verify `RIFF….WAVE`,
    * then walk chunks — 4-byte ASCII id, LE u32 size, payload, and an
    * even-byte pad after ODD-sized payloads (the RIFF rule most ad-hoc
    * parsers miss) — collecting `fmt ` (PCM fields, all little-endian) and
    * `data` (declared byte count; frames = size / block_align, duration_ms
    * = frames·1000 / sample_rate in integer math). A RIFF/WAVE container
    * that never yields both chunks degrades to null fields, same defensive
    * contract as the image decoders; non-RIFF bytes are `opaque`.
    */
  private[ops] def parseWavHeader(bytes: Array[Byte])
      : (String, Option[Int], Option[Int], Option[Int], Option[Long], Option[Long]) = {
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) |
      (u8(i + 3).toLong << 24)) & 0xFFFFFFFFL
    def id4(i: Int): String = new String(bytes, i, 4, "US-ASCII")
    val isRiffWave = bytes.length >= 12 && id4(0) == "RIFF" && id4(8) == "WAVE"
    if (!isRiffWave) return ("opaque", None, None, None, None, None)
    var i = 12
    var channels = -1; var rate = -1; var bits = -1; var blockAlign = -1
    var dataLen = -1L
    while (i + 8 <= bytes.length && (channels < 0 || dataLen < 0)) {
      val cid = id4(i)
      val size = le32(i + 4)
      if (cid == "fmt " && size >= 16 && i + 8 + 16 <= bytes.length) {
        channels = le16(i + 10)
        rate = le32(i + 12).toInt
        blockAlign = le16(i + 20)
        bits = le16(i + 22)
      } else if (cid == "data") {
        dataLen = size // payload need not be present (header-only fixture)
      }
      i += 8 + size.toInt + (size.toInt & 1) // RIFF pads odd chunks to even
    }
    if (channels > 0 && rate > 0 && blockAlign > 0 && dataLen >= 0) {
      val frames = dataLen / blockAlign
      ("wav", Some(channels), Some(rate), Some(bits),
        Some(frames), Some(frames * 1000L / rate))
    } else ("wav", None, None, None, None, None)
  }

  /** Deterministic PCM16 sample for the audio fixture: the [[thumbPixel]]
    * doctrine applied to audio — anchor id pre-reduced mod 1000003 (the
    * wrap-vs-raise bound), Knuth multiply + xor-shift mix, mapped into
    * [−30000, 29999], with a PLANTED full-scale 32767 sample every 37th
    * frame so the clipping census has known ground truth. The oracle
    * replays exactly this formula.
    */
  private[ops] def pcmSample(d: Long, i: Int): Int = {
    if (i % 37 == 0) 32767
    else {
      val e = d % 1000003L
      val m = e * 2654435761L + i * 40503L
      ((m ^ (m >> 13)) % 60000L - 30000L).toInt
    }
  }

  /** Frames per fixture clip: 16–215, doc_id-derived. */
  private[ops] def pcmFrames(d: Long): Int = (d % 200 + 16).toInt

  /** Synthesize a COMPLETE WAV per length-4-source document — unlike
    * [[attachWavHeader]]'s header-only fixture, the `data` chunk carries
    * real little-endian PCM16 mono samples ([[pcmSample]]), behind the same
    * RIFF obstacle course (variable odd-sized LIST/INFO before `fmt `), so
    * a census that shortcuts the chunk walk or misreads LE int16 fails
    * loudly. Built per row in plain JVM bytes, batched per partition.
    */
  def attachWavPcm(docs: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap(_.map { case (d, src) =>
          (d, if (src.length == 4) buildWavPcm(d) else src.getBytes("UTF-8"))
        })
      }
      .toDF("doc_id", "payload")
  }

  private[ops] def buildWavPcm(d: Long): Array[Byte] = {
    val n = pcmFrames(d)
    val nInfo = (d % 13 + 3).toInt
    val listLen = nInfo + 4
    val listPad = listLen % 2
    val dataLen = n * 2 // mono PCM16
    val riffSize = 4 + 8 + listLen + listPad + (8 + 16) + 8 + dataLen
    val out = java.nio.ByteBuffer
      .allocate(12 + 8 + listLen + listPad + 24 + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def ascii(s: String): Unit = out.put(s.getBytes("US-ASCII"))
    ascii("RIFF"); out.putInt(riffSize); ascii("WAVE")
    ascii("LIST"); out.putInt(listLen); ascii("INFO")
    (0 until nInfo).foreach(_ => out.put('i'.toByte))
    if (listPad == 1) out.put(0.toByte)
    ascii("fmt "); out.putInt(16)
    out.putShort(1); out.putShort(1) // PCM, mono
    out.putInt(16000); out.putInt(32000) // rate, byte rate
    out.putShort(2); out.putShort(16) // block align, bits
    ascii("data"); out.putInt(dataLen)
    (0 until n).foreach(i => out.putShort(pcmSample(d, i).toShort))
    out.array()
  }

  final case class PcmCensus(doc_id: Long, n_samples: Long, peak: Int,
                             n_clip: Long, zero_cross: Long, rms: Double)

  /** AUDIO SAMPLE CENSUS over real PCM bytes — the signal-level quality
    * screen an audio-corpus pipeline runs after the header sanity pass
    * ([[decodeAudioMeta]]): RMS loudness, peak amplitude, clipping count
    * (|s| = 32767 full-scale), zero-crossing count. The decode is a REAL
    * RIFF chunk walk to the `data` chunk + an LE-int16 sample walk (pure
    * JVM byte arithmetic, batched per partition — scan speed, no shuffle);
    * everything but `rms` is exact integer arithmetic, and `rms` is two
    * correctly-rounded IEEE ops (one division, one sqrt) on an exact-long
    * sum of squares — cross-engine deterministic without quantization.
    * Non-WAV payloads are dropped (the defensive-decoder contract).
    */
  def pcmCensus(docs: DataFrame, batchSize: Int = 64): Dataset[PcmCensus] = {
    val withPcm = attachWavPcm(docs, batchSize)
    val spark = docs.sparkSession
    import spark.implicits._
    withPcm.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap(_.flatMap { case (d, bytes) =>
          parsePcmSamples(bytes).map { samples =>
            var sumSq = 0L; var peak = 0; var clip = 0L; var zc = 0L
            var i = 0
            while (i < samples.length) {
              val s = samples(i)
              sumSq += s.toLong * s.toLong
              if (math.abs(s) > peak) peak = math.abs(s)
              if (math.abs(s) >= 32767) clip += 1
              if (i > 0 && (s < 0) != (samples(i - 1) < 0)) zc += 1
              i += 1
            }
            PcmCensus(d, samples.length.toLong, peak, clip, zc,
              math.sqrt(sumSq.toDouble / samples.length))
          }
        })
      }
  }

  final case class SilenceCensus(doc_id: Long, n_samples: Long,
                                 n_silent: Long, longest_run: Long,
                                 n_runs: Long, silence_ratio: Double)

  /** SILENCE-RUN CENSUS over real PCM bytes — the trim/segmentation screen
    * an audio pipeline runs before feature extraction: per clip, how much
    * of it is silence (|s| < threshold), the longest contiguous silent run,
    * and how many maximal runs reach `minRun` samples (the candidates a
    * splitter would cut at). Same real RIFF walk + LE-int16 sample scan as
    * [[pcmCensus]] (row-local, batched, no shuffle); the run-length fold is
    * a single forward pass, and every output except the ratio is exact
    * integer arithmetic — the ratio is one floor-quantized division. The
    * oracle recomputes runs independently via gaps-and-islands over the
    * replayed sample formula, so the engine's streaming fold is checked
    * against a set-based formulation, not a copy of itself. Non-WAV
    * payloads are dropped (the defensive-decoder contract).
    */
  def silenceCensus(docs: DataFrame, threshold: Int = 9000, minRun: Int = 3,
                    batchSize: Int = 64): Dataset[SilenceCensus] = {
    val withPcm = attachWavPcm(docs, batchSize)
    val spark = docs.sparkSession
    import spark.implicits._
    withPcm.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap(_.flatMap { case (d, bytes) =>
          parsePcmSamples(bytes).map { samples =>
            var nSil = 0L; var cur = 0L; var maxRun = 0L; var nRuns = 0L
            var i = 0
            while (i < samples.length) {
              if (math.abs(samples(i).toInt) < threshold) {
                cur += 1; nSil += 1
                if (cur > maxRun) maxRun = cur
              } else {
                if (cur >= minRun) nRuns += 1
                cur = 0
              }
              i += 1
            }
            if (cur >= minRun) nRuns += 1
            SilenceCensus(d, samples.length.toLong, nSil, maxRun, nRuns,
              math.floor(nSil.toDouble / samples.length * 10000 + 0.5) / 10000)
          }
        })
      }
  }

  /** RIFF walk to the `data` chunk, then LE-int16 samples; None when the
    * payload is not a complete PCM16 WAV (opaque or header-only). */
  private[ops] def parsePcmSamples(bytes: Array[Byte]): Option[Array[Short]] = {
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) |
      (u8(i + 3).toLong << 24)) & 0xFFFFFFFFL
    def id4(i: Int): String = new String(bytes, i, 4, "US-ASCII")
    if (bytes.length < 12 || id4(0) != "RIFF" || id4(8) != "WAVE") return None
    var i = 12
    var bits = -1
    while (i + 8 <= bytes.length) {
      val cid = id4(i)
      val size = le32(i + 4).toInt
      if (cid == "fmt " && size >= 16 && i + 8 + 16 <= bytes.length)
        bits = le16(i + 22)
      else if (cid == "data") {
        // complete PCM16 payload required: declared bytes actually present
        if (bits != 16 || i + 8 + size > bytes.length || size % 2 != 0)
          return None
        val samples = new Array[Short](size / 2)
        var j = 0
        while (j < samples.length) {
          samples(j) = le16(i + 8 + j * 2).toShort
          j += 1
        }
        return Some(samples)
      }
      i += 8 + size + (size & 1) // RIFF pads odd chunks to even
    }
    None
  }

  // ==================== Video: MP4 / ISO-BMFF =========================

  /** Synthesize a VALID MP4 (ISO base media) header per document with
    * `length(source) = 5` (src10–src19); other sources keep opaque text
    * bytes. Box layout is the public ISO/IEC 14496-12 one — each box a BE
    * u32 size (counting itself) + 4-byte type: `ftyp` (major brand isom),
    * then a VARIABLE-length `free` box (doc_id-derived size — a fixed-
    * offset parser cannot fake the walk), then `moov` containing a
    * variable-length `udta` BEFORE `mvhd` (forcing a NESTED walk), with
    * `mvhd` alternating version 0 (32-bit times) and version 1 (64-bit
    * times) by doc_id parity — the two layouts put timescale/duration at
    * different offsets. timescale ∈ {600,1000,44100,90000} by doc_id%4;
    * duration_ticks = doc_id%100000+1.
    */
  def attachMp4Header(docs: DataFrame): DataFrame = {
    val timescale = element_at(
      array(lit(600), lit(1000), lit(44100), lit(90000)),
      (col("doc_id") % 4 + 1).cast("int"))
    val durTicks = (col("doc_id") % 100000 + 1).cast("int")
    val nFree = (col("doc_id") % 19).cast("int")
    val nUdta = (col("doc_id") % 11).cast("int")
    val ftyp = concat(be32(lit(20)), ascii("ftyp"),
      ascii("isom"), be32(lit(0x200)), ascii("mp41"))
    val free = concat(be32(nFree + 8), ascii("free"),
      encode(repeat(lit("f"), nFree), "UTF-8").cast("binary"))
    val udta = concat(be32(nUdta + 8), ascii("udta"),
      encode(repeat(lit("u"), nUdta), "UTF-8").cast("binary"))
    // mvhd v0: fullbox header, creation/modification u32, timescale u32,
    // duration u32, then rate/volume/reserved/matrix/predefined/next_track
    // zero-filled to the canonical 108 bytes (80 trailing zeros)
    val zeros80 = lit(Array.fill[Byte](80)(0))
    val mvhdV0 = concat(be32(lit(108)), ascii("mvhd"),
      lit(Array[Byte](0, 0, 0, 0)),            // version 0 + flags
      be32(lit(0)), be32(lit(0)),              // creation, modification
      be32(timescale), be32(durTicks), zeros80)
    // mvhd v1: creation/modification u64, timescale u32, duration u64 —
    // canonical 120 bytes (same 80 trailing zeros)
    val zero8 = lit(Array.fill[Byte](8)(0))
    val mvhdV1 = concat(be32(lit(120)), ascii("mvhd"),
      lit(Array[Byte](1, 0, 0, 0)),            // version 1 + flags
      zero8, zero8,                            // creation, modification (u64)
      be32(timescale),
      be32(lit(0)), be32(durTicks),            // duration u64 (high word 0)
      zeros80)
    val mvhd = when(col("doc_id") % 2 === 0, mvhdV0).otherwise(mvhdV1)
    val mvhdSize = when(col("doc_id") % 2 === 0, 108).otherwise(120).cast("int")
    val moov = concat(be32(nUdta + 8 + mvhdSize + 8), ascii("moov"), udta, mvhd)
    docs.withColumn("payload",
      when(length(col("source")) === 5, concat(ftyp, free, moov))
        .otherwise(encode(col("text"), "UTF-8").cast("binary")))
  }

  /** Decoded video-container metadata; `None` columns mean the payload is
    * opaque or the moov/mvhd walk failed. */
  final case class DecodedVideo(doc_id: Long, format: String,
                                major_brand: Option[String], timescale: Option[Int],
                                duration_ticks: Option[Long], duration_ms: Option[Long])

  /** REAL MP4 header decode: top-level box walk to `ftyp` (major brand)
    * and `moov`, then a nested walk inside `moov` to `mvhd`, branching on
    * the version byte for the v0/v1 field layouts. Batched per partition,
    * per-row work only — scan speed at corpus scale.
    */
  def decodeVideoMeta(docs: DataFrame, batchSize: Int = 64): Dataset[DecodedVideo] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, bytes) =>
            val (fmt, brand, ts, dur, ms) = parseMp4Header(bytes)
            DecodedVideo(id, fmt, brand, ts, dur, ms)
          }
        }
      }
  }

  /** Pure-byte ISO-BMFF parse (ISO/IEC 14496-12 §4.2): boxes are BE u32
    * size (counting the 8-byte header) + 4-byte type; size 1 means a
    * 64-bit largesize follows, size 0 means to-end-of-stream. Requires the
    * stream to START with `ftyp` (the brand check that distinguishes MP4
    * from arbitrary bytes), records its major brand, then walks to `moov`
    * and NESTED-walks its children to `mvhd`: version 0 puts timescale/
    * duration as u32 at payload offsets 12/16, version 1 widens the two
    * preceding times to u64, putting timescale at 20 and duration as u64
    * at 24. duration_ms = ticks·1000 / timescale in integer math. A
    * well-formed prefix without a reachable mvhd degrades to null fields.
    */
  private[ops] def parseMp4Header(bytes: Array[Byte])
      : (String, Option[String], Option[Int], Option[Long], Option[Long]) = {
    def u8(i: Int): Int = bytes(i) & 0xFF
    def be32(i: Int): Long = ((u8(i).toLong << 24) | (u8(i + 1) << 16) |
      (u8(i + 2) << 8) | u8(i + 3)) & 0xFFFFFFFFL
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def id4(i: Int): String = new String(bytes, i, 4, "US-ASCII")
    if (bytes.length < 16 || id4(4) != "ftyp") return ("opaque", None, None, None, None)
    val brand = id4(8)
    // generic box walk over [from, until); returns (payloadStart, payloadEnd)
    // of the first box of the wanted type, or null
    def findBox(wanted: String, from: Int, until: Int): (Int, Int) = {
      var i = from
      while (i + 8 <= until) {
        val size0 = be32(i)
        val (hdr, size) =
          if (size0 == 1L && i + 16 <= until) (16, be64(i + 8))
          else if (size0 == 0L) (8, (until - i).toLong) // to end of stream
          else (8, size0)
        if (size < hdr || i + size > until) return null // malformed/truncated
        if (id4(i + 4) == wanted) return (i + hdr, i + size.toInt)
        i += size.toInt
      }
      null
    }
    val moov = findBox("moov", 0, bytes.length)
    if (moov == null) return ("mp4", Some(brand), None, None, None)
    val mvhd = findBox("mvhd", moov._1, moov._2)
    if (mvhd == null || mvhd._2 - mvhd._1 < 20) return ("mp4", Some(brand), None, None, None)
    val p = mvhd._1
    val version = u8(p)
    val (ts, dur) =
      if (version == 1 && mvhd._2 - p >= 32) (be32(p + 20).toInt, be64(p + 24))
      else if (version == 0 && mvhd._2 - p >= 20) (be32(p + 12).toInt, be32(p + 16))
      else return ("mp4", Some(brand), None, None, None)
    if (ts <= 0) ("mp4", Some(brand), None, None, None)
    else ("mp4", Some(brand), Some(ts), Some(dur), Some(dur * 1000L / ts))
  }

  // ------------------------------------------------------- image near-dup

  /** Deterministic 8×8 grayscale pixel for the thumbnail fixture. Odd ids
    * reuse their even anchor's pattern with a 3-pixel perturbation (+8 at
    * flat positions 0 and 23, −16 at 46, sum-preserving so the aHash mean
    * threshold cannot move) — every (even, odd) pair is a planted image
    * near-dup at Hamming ≤ 3. Base values live in [16, 239], so the
    * perturbed bytes never wrap. The oracle replays exactly this formula.
    *
    * The base mixes the anchor id into EVERY pixel multiplicatively
    * (Knuth constant + xor-shift): a first cut used the additive
    * `(e·7 + r·13 + c·29) % 224`, whose whole 64-pixel pattern is a
    * function of `e·7 mod 224` — only 32 distinct images EVER, so at sf1
    * the 50k-doc corpus collapsed into ~32 hash classes and the "near-dup"
    * pair set went quadratic (measured 262 s / tens of millions of rows).
    * Distinct anchors now yield distinct patterns and the pair set scales
    * with the planted pairs.
    *
    * The anchor id is pre-reduced mod the prime 1000003 BEFORE the Knuth
    * multiply (the bootstrap-LCG doctrine): the raw product wraps silently
    * on the JVM but RAISES on int64 overflow in DuckDB for ids ≥ ~3.5e9 —
    * a wrap-vs-raise divergence, not just a value mismatch. The reduction
    * bounds distinct patterns to 1000003 anchor classes: collision-free
    * for every shipped SF (sf1 ids ≪ 1e6) and documented here as the
    * fixture's id-domain bound.
    */
  private[ops] def thumbPixel(d: Long, r: Int, c: Int): Int = {
    val e = (d - (d % 2)) % 1000003L
    val pos = r * 8 + c
    val m = e * 2654435761L + pos * 40503L
    val base = (16 + ((m ^ (m >> 13)) % 224)).toInt
    if (d % 2 == 1) {
      if (pos == 0 || pos == 23) base + 8
      else if (pos == 46) base - 16
      else base
    } else base
  }

  /** Encode the 8×8 thumbnail as a REAL 24-bpp BMP: 14-byte file header,
    * 40-byte BITMAPINFOHEADER, pixel rows stored BOTTOM-UP in BGR order —
    * the layout any stock decoder expects, and the orientation rule the
    * hash decoder must honor (the oracle checks absolute hash words, so a
    * decoder that reads rows in storage order fails parity).
    */
  private[ops] def encodeThumbBmp(d: Long): Array[Byte] = {
    val w = 8; val h = 8
    val rowBytes = w * 3
    val pixelBytes = rowBytes * h
    val out = new Array[Byte](54 + pixelBytes)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
      out(off + 2) = ((v >> 16) & 0xFF).toByte; out(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, 54 + pixelBytes); le32(10, 54)
    le32(14, 40); le32(18, w); le32(22, h); le16(26, 1); le16(28, 24)
    le32(30, 0); le32(34, pixelBytes)
    var k = 0
    while (k < h) {
      val r = h - 1 - k // stored row k holds image row h-1-k (bottom-up)
      var c = 0
      while (c < w) {
        val v = thumbPixel(d, r, c).toByte
        val off = 54 + k * rowBytes + c * 3
        out(off) = v; out(off + 1) = v; out(off + 2) = v
        c += 1
      }
      k += 1
    }
    out
  }

  /** Average-hash (aHash) of a decoded 8×8 BMP, as two unsigned 32-bit
    * words packed in longs (bits 0–31 and 32–63; two halves so neither
    * engine ever shifts into a 64-bit sign bit). Bit p (= r·8+c in image
    * orientation, top row first) is set iff pixel·64 > Σpixels — the
    * integer-exact form of "above the mean", no division anywhere. The
    * parse is a REAL header walk: pixel-array offset, dims, bpp, 4-byte
    * row padding, bottom-up vs top-down orientation all honored.
    */
  private[ops] def aHashHalves(bytes: Array[Byte]): (Long, Long) = {
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M', "not a BMP")
    val off = le32(10)
    val w = le32(18)
    val hRaw = le32(22)
    val bottomUp = hRaw > 0
    val h = math.abs(hRaw)
    require(le16(28) == 24, s"unsupported bpp ${le16(28)}")
    require(w * h == 64, s"aHash expects an 8x8 thumb, got ${w}x$h")
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val px = new Array[Int](w * h)
    var r = 0
    while (r < h) {
      val k = if (bottomUp) h - 1 - r else r
      var c = 0
      while (c < w) {
        val p = off + k * rowBytes + c * 3
        px(r * w + c) = (u8(p) + u8(p + 1) + u8(p + 2)) / 3
        c += 1
      }
      r += 1
    }
    var sum = 0L
    px.foreach(sum += _)
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < 64) {
      if (px(i) * 64L > sum) {
        if (i < 32) h1 |= 1L << i else h2 |= 1L << (i - 32)
      }
      i += 1
    }
    (h1, h2)
  }

  /** Difference-hash (dHash) of a decoded 8×8 BMP: 56 HORIZONTAL-GRADIENT
    * bits — bit r·7+c is set iff pixel(r, c+1) > pixel(r, c) — packed as
    * (bits 0–31, bits 32–55). Where aHash thresholds against the global
    * mean (brightness-sensitive), dHash keys on local gradient SIGNS, so
    * it survives uniform brightness/contrast shifts that move every pixel
    * relative to the mean. Same real header walk as [[aHashHalves]].
    */
  private[ops] def dHashHalves(bytes: Array[Byte]): (Long, Long) = {
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M', "not a BMP")
    val off = le32(10)
    val w = le32(18)
    val hRaw = le32(22)
    val bottomUp = hRaw > 0
    val h = math.abs(hRaw)
    require(le16(28) == 24, s"unsupported bpp ${le16(28)}")
    require(w * h == 64, s"dHash expects an 8x8 thumb, got ${w}x$h")
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val px = new Array[Int](w * h)
    var r = 0
    while (r < h) {
      val k = if (bottomUp) h - 1 - r else r
      var c = 0
      while (c < w) {
        val p = off + k * rowBytes + c * 3
        px(r * w + c) = (u8(p) + u8(p + 1) + u8(p + 2)) / 3
        c += 1
      }
      r += 1
    }
    var h1 = 0L; var h2 = 0L
    r = 0
    while (r < 8) {
      var c = 0
      while (c < 7) {
        if (px(r * 8 + c + 1) > px(r * 8 + c)) {
          val b = r * 7 + c
          if (b < 32) h1 |= 1L << b else h2 |= 1L << (b - 32)
        }
        c += 1
      }
      r += 1
    }
    (h1, h2)
  }

  /** Image near-duplicate pairs by difference-hash + banded Hamming
    * search — the gradient-sign companion to [[imageAHashPairs]] (the two
    * hashes fail differently: aHash misses brightness-shifted copies,
    * dHash misses gradient-free flats; a production visual-dedup pass
    * runs both). The planted fixture edits flip up to FOUR gradient bits
    * (an edited pixel perturbs the gradients on both its sides), so the
    * banding uses FIVE bands over the 56 bits (12+12+8 from h1,
    * 12+12 from h2): any pair at Hamming ≤ 4 leaves ≥1 band untouched —
    * exact recall at the radius by pigeonhole, never all-pairs. Same
    * exchange shape as the aHash pass: only (long, long, long) hash rows
    * and band keys ever shuffle.
    */
  def imageDHashPairs(docs: DataFrame, maxHamming: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hashes = Exec.pin(docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val (h1, h2) = dHashHalves(encodeThumbBmp(d))
        (d, h1, h2)
      })
      .toDF("doc_id", "h1", "h2"))
    // five DISJOINT bit slices of ≥11 bits each (mixing h1's top 9 bits
    // with 2 of h2's — a contiguous split would leave one 8-bit band
    // whose 256 keys bucket ~N/256 docs each and go quadratic at sf1:
    // measured 19.5 s vs 1.5 s after widening; any disjoint partition
    // preserves the pigeonhole recall bound)
    val banded = hashes.select(col("doc_id"), col("h1"), col("h2"),
      posexplode(expr(
        """array(h1 % 4096, (h1 div 4096) % 2048,
          |      (h1 div 8388608) + ((h2 div 4194304) % 4) * 512,
          |      h2 % 2048, (h2 div 2048) % 2048)""".stripMargin))
        .as(Seq("band", "band_bits")))
    val l = banded.select(col("band"), col("band_bits"),
      col("doc_id").as("doc_a"), col("h1").as("h1_a"), col("h2").as("h2_a"))
    val r = banded.select(col("band"), col("band_bits"),
      col("doc_id").as("doc_b"), col("h1").as("h1_b"), col("h2").as("h2_b"))
    l.join(r, Seq("band", "band_bits"))
      .filter(col("doc_a") < col("doc_b"))
      // Hamming BEFORE the pair-dedup: the 11-bit bands admit ~100×
      // more bucket collisions than aHash's 16-bit bands, and the
      // radius filter is map-side on the join output — so the
      // dropDuplicates exchange carries only true near-dups (~N rows),
      // not the multi-million candidate stream
      .withColumn("hamming",
        (bit_count(expr("h1_a ^ h1_b")) + bit_count(expr("h2_a ^ h2_b")))
          .cast("int"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        col("h1_a"), col("h2_a"), col("h1_b"), col("h2_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Fixed-point DCT-II basis, C(k)(n) = round(4096·cos(π(2n+1)k/16)) —
    * the 8×8 perceptual-hash transform in exact integer form. Hardcoded
    * (not computed) so both engines fold the IDENTICAL constants: the
    * oracle re-emits this table as SQL literals, and every downstream
    * comparison is exact int64 arithmetic — no floating cosines anywhere.
    * The orthonormal α(u)α(v) scaling is deliberately dropped: it is a
    * positive per-coefficient factor, and pHash only consumes coefficient
    * ORDER vs a mean threshold, so any fixed positive scaling defines an
    * equally valid (and here exactly replayable) hash.
    */
  val DctC: Array[Array[Long]] = Array(
    Array(4096L, 4096L, 4096L, 4096L, 4096L, 4096L, 4096L, 4096L),
    Array(4017L, 3406L, 2276L, 799L, -799L, -2276L, -3406L, -4017L),
    Array(3784L, 1567L, -1567L, -3784L, -3784L, -1567L, 1567L, 3784L),
    Array(3406L, -799L, -4017L, -2276L, 2276L, 4017L, 799L, -3406L),
    Array(2896L, -2896L, -2896L, 2896L, 2896L, -2896L, -2896L, 2896L),
    Array(2276L, -4017L, 799L, 3406L, -3406L, -799L, 4017L, -2276L),
    Array(1567L, -3784L, 3784L, -1567L, -1567L, 3784L, -3784L, 1567L),
    Array(799L, -2276L, 3406L, -4017L, 4017L, -3406L, 2276L, -799L))

  /** Perceptual hash (pHash) of a decoded square BMP whose side is a
    * multiple of 8: SUM-pool to 8×8 (the fixed-size downsample that makes
    * the hash survive rescaling — pooling by sum instead of average keeps
    * the math integer-exact, and any positive uniform scale cancels in
    * the threshold), 2D integer DCT with [[DctC]], then bit i (= u·8+v,
    * i ≥ 1) set iff T(i)·63 > Σ(non-DC coefficients) — "above the mean of
    * the AC coefficients", division-free. Bit 0 (the DC term, pure
    * brightness) is always 0. Unlike [[aHashHalves]] (pixel vs global
    * mean) the bits key on LOW-FREQUENCY STRUCTURE: blur/rescale
    * artifacts that perturb individual pixels barely move the DCT
    * signs, which is exactly the failure mode aHash cannot survive.
    * Same real header walk as the other hashes; packed as two unsigned
    * 32-bit words so neither engine shifts into a sign bit.
    */
  private[ops] def pHashHalves(bytes: Array[Byte]): (Long, Long) = {
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M', "not a BMP")
    val off = le32(10)
    val w = le32(18)
    val hRaw = le32(22)
    val bottomUp = hRaw > 0
    val h = math.abs(hRaw)
    require(le16(28) == 24, s"unsupported bpp ${le16(28)}")
    require(w == h && w % 8 == 0 && w > 0, s"pHash expects square 8m×8m, got ${w}x$h")
    val m = w / 8
    val rowBytes = ((w * 3 + 3) / 4) * 4
    // sum-pool m×m blocks straight off the pixel array
    val px = new Array[Long](64)
    var r = 0
    while (r < h) {
      val k = if (bottomUp) h - 1 - r else r
      var c = 0
      while (c < w) {
        val p = off + k * rowBytes + c * 3
        px((r / m) * 8 + (c / m)) += (u8(p) + u8(p + 1) + u8(p + 2)) / 3
        c += 1
      }
      r += 1
    }
    // separable integer DCT: U(u)(c) = Σ_r px(r)(c)·C(u)(r), then
    // T(u)(v) = Σ_c U(u)(c)·C(v)(c); |T| ≤ 64·(m²·255)·4096² — int64-safe
    // through m = 256 (a 2048-pixel side), far past any thumbnail
    val dctU = Array.ofDim[Long](8, 8)
    var u = 0
    while (u < 8) {
      var c = 0
      while (c < 8) {
        var s = 0L; var rr = 0
        while (rr < 8) { s += px(rr * 8 + c) * DctC(u)(rr); rr += 1 }
        dctU(u)(c) = s
        c += 1
      }
      u += 1
    }
    val t = new Array[Long](64)
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0L; var cc = 0
        while (cc < 8) { s += dctU(u)(cc) * DctC(v)(cc); cc += 1 }
        t(u * 8 + v) = s
        v += 1
      }
      u += 1
    }
    var acSum = 0L
    var i = 1
    while (i < 64) { acSum += t(i); i += 1 }
    var h1 = 0L; var h2 = 0L
    i = 1
    while (i < 64) {
      if (t(i) * 63 > acSum) {
        if (i < 32) h1 |= 1L << i else h2 |= 1L << (i - 32)
      }
      i += 1
    }
    (h1, h2)
  }

  /** The 16×16 "rescaled re-encode" of a thumbnail: 2× pixel replication
    * followed by a 3×3 box blur (clamped edges, floor ÷9) — the integer
    * stand-in for what a real resize-and-recompress round trip does to
    * pixels (resampling = low-pass filtering). Paired with the 8×8
    * original in MultimodalOpsSpec: pHash survives it (low-frequency DCT
    * signs barely move under low-pass), aHash does not (near-mean pixels
    * flip). Encoded as a real BMP so both hash paths exercise the decoder.
    */
  private[ops] def encodeRescaledThumbBmp16(d: Long): Array[Byte] = {
    val rep = Array.tabulate(16, 16)((r, c) => thumbPixel(d, r / 2, c / 2))
    val px = Array.tabulate(16, 16) { (r, c) =>
      var s = 0
      var dr = -1
      while (dr <= 1) {
        var dc = -1
        while (dc <= 1) {
          s += rep(math.min(15, math.max(0, r + dr)))(math.min(15, math.max(0, c + dc)))
          dc += 1
        }
        dr += 1
      }
      s / 9
    }
    encodeGrayBmp(px)
  }

  /** 2×2 average-pool of a decoded 16×16 BMP back to an 8×8 BMP — the
    * "decoder resize" an aHash pipeline must run before hashing a
    * rescaled image (aHash is defined on 8×8 only). Floor average.
    */
  private[ops] def pooledTo8Bmp(bytes: Array[Byte]): Array[Byte] = {
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M', "not a BMP")
    val off = le32(10)
    val w = le32(18)
    val h = math.abs(le32(22))
    val bottomUp = le32(22) > 0
    require(w == 16 && h == 16, s"expected 16x16, got ${w}x$h")
    val rowBytes = ((w * 3 + 3) / 4) * 4
    def gray(r: Int, c: Int): Int = {
      val k = if (bottomUp) h - 1 - r else r
      val p = off + k * rowBytes + c * 3
      (u8(p) + u8(p + 1) + u8(p + 2)) / 3
    }
    encodeGrayBmp(Array.tabulate(8, 8)((r, c) =>
      (gray(2 * r, 2 * c) + gray(2 * r, 2 * c + 1)
        + gray(2 * r + 1, 2 * c) + gray(2 * r + 1, 2 * c + 1)) / 4))
  }

  /** Grayscale pixel grid → real 24-bpp BMP (bottom-up rows, 4-byte row
    * padding) — the general-size sibling of [[encodeThumbBmp]].
    */
  private[ops] def encodeGrayBmp(px: Array[Array[Int]]): Array[Byte] = {
    val h = px.length; val w = px(0).length
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val pixelBytes = rowBytes * h
    val out = new Array[Byte](54 + pixelBytes)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
      out(off + 2) = ((v >> 16) & 0xFF).toByte; out(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, 54 + pixelBytes); le32(10, 54)
    le32(14, 40); le32(18, w); le32(22, h); le16(26, 1); le16(28, 24)
    le32(30, 0); le32(34, pixelBytes)
    var k = 0
    while (k < h) {
      val r = h - 1 - k
      var c = 0
      while (c < w) {
        val v = px(r)(c).toByte
        val off = 54 + k * rowBytes + c * 3
        out(off) = v; out(off + 1) = v; out(off + 2) = v
        c += 1
      }
      k += 1
    }
    out
  }

  /** Rescale-robustness CENSUS of the perceptual-hash family — the
    * spec-level claim behind [[imagePHashPairs]] promoted to an
    * oracle-checked query: every image is put through a 2× rescaled
    * low-pass re-encode ([[encodeRescaledThumbBmp16]]), and both hash
    * paths compare original vs re-encode — pHash pools the 16×16 back to
    * 8×8 internally, aHash runs on the decoder-resized
    * ([[pooledTo8Bmp]]) image. Output: the 2×2 caught/missed census
    * (pHash radius 4, aHash radius 3) with per-bucket Hamming ranges —
    * all exact integers, and the DuckDB oracle replays the ENTIRE
    * integer image pipeline (replicate → clamped 3×3 box blur → sum/avg
    * pooling → DCT/mean thresholding), so the robustness claim is
    * externally verified, not just asserted by a spec. Per-row byte
    * walks, one tiny census aggregate — no shuffle carries image data.
    */
  def imageRescaleRobustness(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val orig = encodeThumbBmp(d)
        val resc = encodeRescaledThumbBmp16(d)
        val (p1, p2) = pHashHalves(orig)
        val (q1, q2) = pHashHalves(resc)
        val (a1, a2) = aHashHalves(orig)
        val (b1, b2) = aHashHalves(pooledTo8Bmp(resc))
        (d,
          java.lang.Long.bitCount(p1 ^ q1) + java.lang.Long.bitCount(p2 ^ q2),
          java.lang.Long.bitCount(a1 ^ b1) + java.lang.Long.bitCount(a2 ^ b2))
      })
      .toDF("doc_id", "p_ham", "a_ham")
      .groupBy((col("p_ham") <= 4).as("phash_caught"),
        (col("a_ham") <= 3).as("ahash_caught"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("p_ham")).as("min_p_ham"), max(col("p_ham")).as("max_p_ham"),
        min(col("a_ham")).as("min_a_ham"), max(col("a_ham")).as("max_a_ham"))
      .orderBy(col("phash_caught"), col("ahash_caught"))
  }

  /** Image near-duplicate pairs by perceptual (DCT) hash + banded Hamming
    * search — the family member that survives RESCALING: aHash/dHash key
    * on per-pixel comparisons, so a resize-and-re-encode round trip (=
    * low-pass resampling) scrambles them, while pHash keys on the signs
    * of the pooled image's low-frequency DCT coefficients, which a
    * low-pass filter preserves by construction (MultimodalOpsSpec pins a
    * rescaled duplicate that aHash misses and pHash catches). Radius 4
    * with FIVE disjoint bands over the 64 hash bits (h1 low/mid 13+13,
    * h1 high 6 + h2 low 7, h2 mid 13, h2 high 12): any pair at Hamming ≤ 4 shares an
    * untouched band — exact recall by pigeonhole, never all-pairs. The
    * DCT spreads a single-pixel edit across ALL coefficients, so a few
    * planted 3-pixel-edit fixture pairs land just past the radius — by
    * design: pixel-edit robustness is aHash/dHash's job, rescale
    * robustness is this one's. Hamming filter BEFORE the pair-dedup
    * exchange (the dHash lesson: 13-bit buckets admit collisions, so the
    * dedup must see only true near-dups). Exchange rows are (long, long,
    * long) — hashes and band keys only.
    */
  def imagePHashPairs(docs: DataFrame, maxHamming: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hashes = Exec.pin(docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val (h1, h2) = pHashHalves(encodeThumbBmp(d))
        (d, h1, h2)
      })
      .toDF("doc_id", "h1", "h2"))
    // five DISJOINT slices: h1 bits 0–12 / 13–25 / 26–31 ⊕ h2 bits 0–6,
    // then h2 bits 7–19 / 20–31 (13·4 + 12 = 64); disjointness preserves
    // the pigeonhole bound, ≥12 bits per band keeps buckets thin
    val banded = hashes.select(col("doc_id"), col("h1"), col("h2"),
      posexplode(expr(
        """array(h1 % 8192, (h1 div 8192) % 8192,
          |      (h1 div 67108864) + (h2 % 128) * 64,
          |      (h2 div 128) % 8192, h2 div 1048576)""".stripMargin))
        .as(Seq("band", "band_bits")))
    val l = banded.select(col("band"), col("band_bits"),
      col("doc_id").as("doc_a"), col("h1").as("h1_a"), col("h2").as("h2_a"))
    val r = banded.select(col("band"), col("band_bits"),
      col("doc_id").as("doc_b"), col("h1").as("h1_b"), col("h2").as("h2_b"))
    l.join(r, Seq("band", "band_bits"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        (bit_count(expr("h1_a ^ h1_b")) + bit_count(expr("h2_a ^ h2_b")))
          .cast("int"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        col("h1_a"), col("h2_a"), col("h1_b"), col("h2_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Image near-duplicate pairs by average-hash + banded Hamming search —
    * the visual-dedup pass of a multimodal corpus (re-encoded, resized or
    * lightly edited images collide on aHash where byte-exact dedup cannot).
    * Per doc: encode the deterministic thumbnail fixture as a real BMP,
    * DECODE it back (header walk, bottom-up rows — the hash is computed
    * from bytes, never from the generator formula), hash, then find pairs
    * with the [[DedupOps.simhashPairs]] banding contract: 4 × 16-bit bands
    * over the 64 hash bits, so every pair at Hamming ≤ 3 shares an
    * untouched band (pigeonhole) — EXACT recall at the default radius,
    * never all-pairs. Scale shape: the only exchanges carry (long, long,
    * long) hash rows and 16-bit band keys; candidate buckets thin as
    * 1/65536 per band. Output: (doc_a, doc_b, hamming, and both hash
    * words per side — the absolute words pin the decoder's orientation,
    * which the permutation-invariant hamming alone would not).
    */
  def imageAHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // both band sides read this — pin so encode+decode runs once per doc
    val hashes = Exec.pin(docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { d =>
        val (h1, h2) = aHashHalves(encodeThumbBmp(d))
        (d, h1, h2)
      })
      .toDF("doc_id", "h1", "h2"))
    val banded = hashes.select(col("doc_id"), col("h1"), col("h2"),
      posexplode(expr(
        "array(h1 % 65536, h1 div 65536, h2 % 65536, h2 div 65536)"))
        .as(Seq("band", "band_bits")))
    val l = banded.select(col("band"), col("band_bits"),
      col("doc_id").as("doc_a"), col("h1").as("h1_a"), col("h2").as("h2_a"))
    val r = banded.select(col("band"), col("band_bits"),
      col("doc_id").as("doc_b"), col("h1").as("h1_b"), col("h2").as("h2_b"))
    l.join(r, Seq("band", "band_bits"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        (bit_count(expr("h1_a ^ h1_b")) + bit_count(expr("h2_a ^ h2_b")))
          .cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        col("h1_a"), col("h2_a"), col("h1_b"), col("h2_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Grayscale pixels of a decoded BMP in IMAGE orientation (top row
    * first) — the same real header walk the hash decoders do (pixel-array
    * offset, dims, 24 bpp, 4-byte row padding, bottom-up vs top-down),
    * shared by content ops that need raw values rather than hash bits.
    */
  private[ops] def bmpGrayPixels(bytes: Array[Byte]): Array[Int] = {
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M', "not a BMP")
    val off = le32(10)
    val w = le32(18)
    val hRaw = le32(22)
    val bottomUp = hRaw > 0
    val h = math.abs(hRaw)
    require(le16(28) == 24, s"unsupported bpp ${le16(28)}")
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val px = new Array[Int](w * h)
    var r = 0
    while (r < h) {
      val k = if (bottomUp) h - 1 - r else r
      var c = 0
      while (c < w) {
        val p = off + k * rowBytes + c * 3
        px(r * w + c) = (u8(p) + u8(p + 1) + u8(p + 2)) / 3
        c += 1
      }
      r += 1
    }
    px
  }

  /** Per-image EDGE-DENSITY census over real decoded BMP pixels — the
    * texture/blur screen beside [[imageEntropyCensus]]'s histogram screen:
    * central-difference gradients on the 6×6 interior (|gx| + |gy| in
    * exact integers), gradient sum/max, and the fraction of interior
    * pixels whose L1 gradient clears `threshold`. Same real decode path
    * (BMP header walk, bottom-up row order) and the same row-local batched
    * scan shape; the only double is the floor-quantized fraction. The
    * oracle computes gradients by an independent 4-way self-join on the
    * replayed pixel grid, not a copy of the engine's array walk.
    */
  def edgeDensityCensus(docs: DataFrame, threshold: Int = 150,
                        batchSize: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.grouped(batchSize).flatMap(_.map { d =>
        val px = bmpGrayPixels(encodeThumbBmp(d))
        var gsum = 0L; var gmax = 0; var nEdge = 0L
        var r = 1
        while (r < 7) {
          var c = 1
          while (c < 7) {
            val gx = px(r * 8 + c + 1) - px(r * 8 + c - 1)
            val gy = px((r + 1) * 8 + c) - px((r - 1) * 8 + c)
            val g = math.abs(gx) + math.abs(gy)
            gsum += g
            if (g > gmax) gmax = g
            if (g >= threshold) nEdge += 1
            c += 1
          }
          r += 1
        }
        (d, gsum, gmax, nEdge,
          math.floor(nEdge.toDouble / 36.0 * 10000 + 0.5) / 10000)
      }))
      .toDF("doc_id", "grad_sum", "grad_max", "n_edge", "edge_frac")
      .orderBy(col("doc_id"))
  }

  /** Per-image luminance census over REAL decoded BMP pixels — the
    * low-information screen a vision-data pipeline runs before training
    * (a near-constant thumbnail carries ~0 bits of content; an all-noise
    * one saturates the histogram): min/max/Σ luminance (exact ints), the
    * count of occupied 16-wide histogram bins, and the Shannon entropy of
    * the 16-bin distribution in bits. Everything through the histogram is
    * exact integer arithmetic computed in the SAME batched per-row byte
    * walk as the hash decoders — NO shuffle anywhere (the entropy is a
    * row-local HOF fold over the 16-long bins array; cnt/64 divisions are
    * exact binary, so the only cross-engine surface is ln itself, under
    * q4 flooring like every log-based query). The presentation sort is
    * the plan's single exchange.
    */
  def imageEntropyCensus(docs: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.grouped(batchSize).flatMap(_.map { d =>
        val px = bmpGrayPixels(encodeThumbBmp(d))
        val bins = new Array[Long](16)
        px.foreach(v => bins(v / 16) += 1)
        (d, px.min, px.max, px.foldLeft(0L)(_ + _), bins.toSeq)
      }))
      .toDF("doc_id", "p_min", "p_max", "sum_v", "bins")
      .withColumn("nz", expr("filter(bins, c -> c > 0)"))
      .select(col("doc_id"), col("p_min"), col("p_max"), col("sum_v"),
        size(col("nz")).cast("long").as("n_bins"),
        expr(
          """floor((-aggregate(nz, CAST(0.0 AS DOUBLE),
            |  (acc, c) -> acc + (CAST(c AS DOUBLE) / 64.0)
            |    * ln(CAST(c AS DOUBLE) / 64.0))
            |  / 0.6931471805599453) * 10000 + 0.5) / 10000""".stripMargin)
          .as("entropy_bits"))
      .orderBy(col("doc_id"))
  }
}
