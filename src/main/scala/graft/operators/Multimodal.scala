package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with a typed metadata struct; decode / feature-extract
  * run per-partition over the payload bytes.
  *
  * The codec is REAL: `decodePpm` parses the binary PPM (P6) image format —
  * magic, whitespace/comment-tolerant ASCII header, raw RGB triplets — and
  * extracts exact integer-arithmetic channel statistics, so an external SQL
  * engine can replay the features bit-for-bit (q25). `encodePpm` is the
  * matching write-side: it wraps payload bytes into a valid P6 image with
  * pure columnar byte ops (no UDF). Heavier codecs (JPEG/FLAC/H.264 — not
  * shipped in this environment) would slot into the same per-partition
  * decode boundary with the same schema/null contract.
  */
object Multimodal {

  /** Wrap a text corpus as a media table: payload = utf8 bytes. Stands in
    * for `spark.read.format("binaryFile")` at test scale. */
  def asMedia(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      sourceCol: String = "source"): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      col(textCol).cast("binary").as("payload"),
      struct(
        lit("text/plain").as("mime"),
        octet_length(col(textCol).cast("binary")).cast("long").as("n_bytes"),
        col(sourceCol).as("source")).as("meta"))

  /** Pure-column metadata extraction — byte length, head bytes, content
    * hash. Codegen'd; no decode needed, so it runs at scan speed. */
  def extractMeta(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      col("meta.mime").as("mime"),
      col("meta.source").as("source"),
      octet_length(col("payload")).cast("long").as("n_bytes"),
      hex(substring(col("payload"), 1, 8)).as("head_hex"),
      md5(col("payload")).as("content_md5"))

  /** Frame sampling — the video/audio access pattern: one row per sampled
    * frame, a `frameLen`-byte slice every `stride` bytes. Pure columnar
    * (sequence + posexplode + substr), no decode: at 100 TB this is how a
    * trainer reads every k-th frame of a corpus without shipping whole
    * payloads — the Generate keeps only the slices, and column pruning
    * drops the full payload right after the substr. Tail frames shorter
    * than `frameLen` are kept truncated (codec-style). */
  def frameSample(media: DataFrame, frameLen: Int = 16, stride: Int = 64): DataFrame =
    media
      .select(
        col("media_id"),
        col("payload"),
        // a ZERO-byte payload would make sequence(1, 0, +stride) throw
        // ("Illegal sequence boundaries") and kill the whole job — empty
        // payloads yield no frames, exactly like null ones (posexplode of
        // the null sequence emits nothing)
        posexplode(when(octet_length(col("payload")) > 0,
          sequence(lit(1L), octet_length(col("payload")).cast("long"), lit(stride.toLong))))
          .as(Seq("frame_idx", "off")))
      .select(
        col("media_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        hex(col("payload").substr(col("off").cast("int"), lit(frameLen))).as("frame_hex"),
        octet_length(col("payload").substr(col("off").cast("int"), lit(frameLen)))
          .cast("long").as("frame_bytes"))

  /** Wrap each payload's bytes as a valid PPM (P6) image of fixed `w`×`h`
    * geometry: `"P6\n<w> <h>\n255\n"` + the first 3·w·h payload bytes,
    * zero-padded when the payload is shorter. Pure columnar byte ops —
    * the header is a literal, the pixel plane is substring + rpad on
    * BINARY — so encoding runs inside whole-stage codegen and an external
    * engine can reconstruct the identical image from the source bytes. */
  def encodePpm(media: DataFrame, w: Int = 4, h: Int = 4): DataFrame = {
    require(w > 0 && h > 0, "image geometry must be positive")
    val header = lit(s"P6\n$w $h\n255\n".getBytes("US-ASCII"))
    val plane = 3 * w * h
    media.withColumn("payload",
      concat(header,
        rpad(substring(col("payload"), 1, plane), plane, Array[Byte](0))))
  }

  /** Real decode at the codec boundary: parse the PPM (P6) binary format
    * and emit per-channel statistics, as the codegen'd
    * [[graft.functions.PpmFeatures]] expression (one struct decode,
    * fields projected out — whole-stage codegen's common-subexpression
    * elimination evaluates the decode once per row).
    *
    * The parser honors the format's actual grammar — `P6` magic, header
    * integers separated by runs of whitespace, `#` comments swallowed to
    * end-of-line anywhere between tokens, exactly ONE whitespace byte
    * after maxval, then 3·w·h raw RGB bytes (maxval ≤ 255 ⇒ 1 byte/sample).
    * Features are the R/G/B channel means computed as exact integer sums
    * over w·h samples divided once at the end — replayable bit-for-bit by
    * the q25 oracle. Malformed payloads (bad magic, truncated pixel plane,
    * maxval out of range) yield a row with null geometry/features (null
    * struct → null fields) rather than poisoning the partition — the
    * real-codec error contract.
    */
  def decodePpm(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val bytes = coalesce(col("payload"), lit(Array.emptyByteArray))
    val dec = graft.functions.PpmFeatures.ppmFeatures(spark, bytes)
    media.select(
      col("media_id"),
      octet_length(bytes).cast("long").as("n_bytes"),
      dec.getField("width").as("width"),
      dec.getField("height").as("height"),
      dec.getField("maxval").as("maxval"),
      dec.getField("features").as("features"))
  }

  /** Real image RESIZE at the codec boundary: nearest-neighbor
    * downsample/upsample of a PPM (P6) payload to `w2`×`h2`, as the
    * codegen'd [[graft.functions.ResizePpm]] expression — the byte work
    * runs inside whole-stage codegen next to its codec siblings
    * (encode/decode/feature-extract), with no RDD serialization fence. A
    * null or malformed source yields a null payload (the decode error
    * contract; nulls are pre-empted to empty so the expression's
    * null-intolerance matches the old row-level behavior). Output is a
    * VALID P6 payload, so resize chains with [[decodePpm]] /
    * [[frameSample]] like any other media op.
    *
    * Scale shape: pure per-row byte work in a projection — no shuffle;
    * 100 TB of thumbnails is an embarrassingly parallel scan. */
  def resizePpm(media: DataFrame, w2: Int, h2: Int): DataFrame = {
    // fail fast at call time (the expression re-checks at analysis): a bad
    // geometry should be an immediate argument error, not a deferred
    // AnalysisException from deep inside plan resolution
    require(w2 > 0 && h2 > 0, "target geometry must be positive")
    require(3L * w2 * h2 + 64L <= Int.MaxValue,
      s"target plane 3*$w2*$h2 exceeds a byte-array's addressable size")
    val spark = media.sparkSession
    media.select(
      col("media_id"),
      graft.functions.ResizePpm.resizePpm(
        spark, coalesce(col("payload"), lit(Array.emptyByteArray)), w2, h2)
        .as("payload"))
  }

  /** Wrap each payload's bytes as a valid 16-bit PCM mono WAV of exactly
    * `nSamples` samples: the canonical 44-byte RIFF/fmt/data header (all
    * fields constant for a fixed geometry, little-endian) + 2·nSamples
    * payload bytes zero-padded. Columnar, codegen'd — the audio twin of
    * `encodePpm`. */
  def encodeWav(media: DataFrame, nSamples: Int = 64, sampleRate: Int = 8000): DataFrame = {
    require(nSamples > 0 && sampleRate > 0, "audio geometry must be positive")
    // 2·nSamples must stay addressable: past Int range the RIFF size field
    // wraps and the padded plane silently empties — same guard class as
    // resizePpm's addressable-size check
    require(2L * nSamples <= Int.MaxValue - 44,
      s"nSamples $nSamples exceeds a byte-array's addressable WAV size")
    val dataBytes = 2 * nSamples
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val header: Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++ le32(36 + dataBytes) ++ "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(1) ++                        // PCM, mono
      le32(sampleRate) ++ le32(sampleRate * 2) ++  // byte rate = rate · block align
      le16(2) ++ le16(16) ++                       // block align, bits/sample
      "data".getBytes("US-ASCII") ++ le32(dataBytes)
    media.withColumn("payload",
      concat(lit(header),
        rpad(substring(col("payload"), 1, dataBytes), dataBytes, Array[Byte](0))))
  }

  /** Real audio decode: walk the RIFF chunk list (the actual WAV container
    * grammar — chunks are (4-byte id, LE32 size, body, pad-to-even), `fmt `
    * may precede `data` with vendor chunks between), validate 16-bit PCM
    * mono, and reduce the LE int16 samples to exact integer statistics:
    * sample sum and peak |amplitude| — as the codegen'd
    * [[graft.functions.WavStats]] expression. Integer-exact ⇒ the q78
    * oracle reconstructs the identical samples from the source bytes.
    * Malformed containers (bad magic, truncated chunk, non-PCM, missing
    * data) yield null stats — same error contract as decodePpm. */
  def decodeWav(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val bytes = coalesce(col("payload"), lit(Array.emptyByteArray))
    val dec = graft.functions.WavStats.wavStats(spark, bytes)
    media.select(
      col("media_id"),
      octet_length(bytes).cast("long").as("n_bytes"),
      dec.getField("sample_rate").as("sample_rate"),
      dec.getField("n_samples").as("n_samples"),
      dec.getField("sum_samples").as("sum_samples"),
      dec.getField("peak").as("peak"))
  }

  /** RIFF/WAVE walk: returns (sampleRate, dataOffset, dataLen) for a
    * 16-bit PCM mono file with a complete data chunk, None otherwise. */
  private[graft] def parseWav(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    def ascii(off: Int, s: String): Boolean =
      off + s.length <= bytes.length &&
        s.indices.forall(i => bytes(off + i) == s.charAt(i).toByte)
    def le32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    def le16(off: Int): Int = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    if (bytes.length < 12 || !ascii(0, "RIFF") || !ascii(8, "WAVE")) return None
    var i = 12
    var fmtOk = false
    var rate = 0
    while (i + 8 <= bytes.length) {
      val size = le32(i + 4)
      if (size < 0 || size > Int.MaxValue - 8) return None
      val body = i + 8
      if (body + size > bytes.length) return None // truncated chunk
      if (ascii(i, "fmt ")) {
        if (size < 16) return None
        val audioFormat = le16(body)
        val channels = le16(body + 2)
        val bits = le16(body + 14)
        if (audioFormat != 1 || channels != 1 || bits != 16) return None
        rate = le32(body + 4).toInt // wraps negative past 2^31 — rejected below
        if (rate <= 0) return None  // malformed rate must not decode "successfully"
        fmtOk = true
      } else if (ascii(i, "data")) {
        if (!fmtOk || size % 2 != 0) return None // fmt must precede data
        return Some((rate, body, size.toInt))
      }
      i = body + size.toInt + (size.toInt & 1) // chunks pad to even length
    }
    None
  }

  /** PPM (P6) header parse: returns (width, height, maxval, pixelOffset)
    * when `bytes` is a well-formed single-byte-sample image with a full
    * pixel plane, None otherwise. */
  private[graft] def parsePpm(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    var i = 0
    def isWs(b: Byte) = b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'
    // runs of whitespace; '#' opens a comment swallowed to end-of-line
    def skipSeparators(): Unit = {
      var moving = true
      while (moving && i < bytes.length) {
        if (isWs(bytes(i))) i += 1
        else if (bytes(i) == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else moving = false
      }
    }
    def parseInt(): Int = {
      var v = -1
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = (if (v < 0) 0 else v) * 10 + (bytes(i) - '0')
        i += 1
        if (v > 1000000) return -1 // refuse absurd geometry before overflow
      }
      v
    }
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
    i = 2
    skipSeparators(); val w = parseInt()
    skipSeparators(); val h = parseInt()
    skipSeparators(); val maxval = parseInt()
    if (w <= 0 || h <= 0 || maxval <= 0 || maxval > 255) return None
    // exactly one whitespace byte terminates the header before raw data
    if (i >= bytes.length || !isWs(bytes(i))) return None
    i += 1
    if (bytes.length - i < 3L * w * h) return None // truncated pixel plane
    Some((w, h, maxval, i))
  }
}
