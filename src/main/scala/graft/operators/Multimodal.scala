package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFamily

/** Multimodal-column plumbing: media payloads are opaque BINARY columns with
  * a typed metadata struct riding next to them. The Spark-side contract —
  * schema, partition behavior, batch shape — is real and tested; the actual
  * media decode is STUBBED (no image/audio codecs in this environment) with
  * a deterministic byte-level fake, clearly marked below.
  *
  * Scale notes: payloads stay in executors end-to-end (no collect); feature
  * extraction is a typed mapPartitions, so one task processes one file split
  * and the decode stub is amortized per-partition; metadata-only queries
  * prune the payload column at the parquet scan.
  */
object Multimodal {

  /** Near-dup windows, shared with the oracle SQL interpolation so the
    * two sides cannot drift (the MarginIvfPairBudget convention).
    *
    * Measured on the corpus (round 16, the fingerprint rebuild): under
    * the 60-bit shingle simhash, planted near-dups sit at Hamming ≤ 7
    * while the closest same-kind in-length-window background pair is at
    * 12 (sf0.1) — the r15 segment face's 16 numbers could not make that
    * separation (3 of its 5 sf0.01 accepts were byte-statistics
    * coincidences at Hamming 23-28, and it MISSED planted pairs the
    * fingerprint finds). The L1 window is the retained SECONDARY check:
    * planted pairs measure L1 ≤ 44.6e6 across all three sf cuts, so
    * 48e6 (6 mean-byte units per segment) bounds positional divergence
    * without ever being the active filter — it exists to kill a
    * majority-vote coincidence whose bytes disagree regionally.
    */
  val NearDupLenWindow = 16L
  val MediaFpMaxHamming = 7
  val MediaFpL1Window = 48000000L

  /** The banding geometry, named once so the lossless-window guard and
    * the band-key generator can never desynchronize: [[MediaFpBands]]
    * bands of 60/bands bits each, expanded with single-bit flips up to
    * [[MediaFpFlipRadius]].
    */
  private[graft] val MediaFpBands = 4
  private[graft] val MediaFpBandBits = 60 / MediaFpBands
  private[graft] val MediaFpFlipRadius = 1

  /** The losslessness bound of the banding, DERIVED from the geometry:
    * pigeonhole forces SOME band to differ in ≤ radius bits only while
    * Hamming ≤ bands·(radius+1)−1 (= 4·2−1 = 7 at the shipped
    * geometry). Changing the band count or flip radius moves this bound
    * automatically; [[MediaFpMaxHamming]] is asserted ≤ it at class
    * load, so a default window wider than the geometry supports cannot
    * even construct.
    */
  private[graft] val MediaFpLosslessBound =
    MediaFpBands * (MediaFpFlipRadius + 1) - 1
  require(MediaFpMaxHamming <= MediaFpLosslessBound,
    s"default MediaFpMaxHamming = $MediaFpMaxHamming exceeds the banding's " +
      s"lossless bound $MediaFpLosslessBound")

  /** A caller passing a window wider than [[MediaFpLosslessBound]] would
    * SILENTLY lose qualifying pairs, so every banded entry point fails
    * loudly instead.
    */
  private def requireLosslessWindow(maxHamming: Int): Unit =
    require(maxHamming <= MediaFpLosslessBound,
      s"the ${MediaFpBands}x$MediaFpBandBits-bit flip-radius-" +
        s"$MediaFpFlipRadius banding is lossless only for Hamming <= " +
        s"$MediaFpLosslessBound (pigeonhole); got maxHamming = " +
        s"$maxHamming — widen the band count / flip radius before " +
        s"widening the window")

  /** Media quality-rule thresholds (the txt_gopher_rules convention:
    * published-battery shapes with explicit, oracle-shared constants).
    * MinPixels/AspectMax bound degenerate visuals (tracking-pixel /
    * banner shapes), MinRate is the 11.025 kHz telephony floor rounded
    * to the corpus's 1 kHz grid, MinDuration flags sub-100 ms clips.
    */
  val MediaMinPixels = 10000L
  val MediaAspectMax = 4L
  val MediaMinRate = 11000L
  val MediaMinDurationMs = 100L

  /** Decode-pass telemetry (test seam): one tick per CONSTRUCTED decode
    * pipeline over the documents table — raw text payloads
    * ([[mediaFromDocumentsFrame]]) and container synthesis+parse
    * ([[mediaWithHeadersFrame]]) separately. Every composed operator
    * materializes each constructed pipeline exactly once (through
    * localCheckpoint), so construction count == executed decode passes;
    * PlanAuditSpec pins the capstone rows to one pass per table. Plain
    * AtomicLongs, driver-side only — never shipped in a closure.
    */
  private[graft] val rawDecodeBuilds = new java.util.concurrent.atomic.AtomicLong
  private[graft] val containerDecodeBuilds = new java.util.concurrent.atomic.AtomicLong

  /** One tick per constructed FUSED audited-face pass (fingerprint +
    * container audit off one documents scan) — the r20 decision-row
    * decode product; PlanAuditSpec pins the capstone to exactly one.
    */
  private[graft] val fusedDecodeBuilds = new java.util.concurrent.atomic.AtomicLong

  case class MediaMeta(kind: String, sizeBytes: Long, width: Int, height: Int)
  case class MediaRecord(media_id: Long, payload: Array[Byte], meta: MediaMeta)
  case class MediaFeatures(media_id: Long, kind: String, features: Array[Float])

  /** Manufacture a media corpus from the documents table: payload = UTF-8
    * bytes of the text (standing in for encoded image/audio bytes), with
    * deterministic fake dimensions derived from the payload length.
    */
  def mediaFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaRecord] =
    mediaFromDocumentsFrame(spark.read.parquet(s"$sfDir/documents.parquet"))

  /** [[mediaFromDocuments]] over an explicit documents frame — the seam
    * the stored-index serve path uses so a pre-filtered batch slice
    * decodes ONLY its own documents (a filter above the typed map
    * cannot be pushed below it by Catalyst).
    */
  private[graft] def mediaFromDocumentsFrame(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    rawDecodeBuilds.incrementAndGet()
    decodeDocs(docs)(_.map { case (id, bytes, nChars) =>
      MediaRecord(id, bytes, MediaMeta(rawKind(id), bytes.length.toLong,
        (nChars % 640).toInt + 1, (nChars % 480).toInt + 1))
    })
  }

  /** The documents-to-media row decode every media pass shares: each
    * (doc_id, text, n_chars) row reaches the per-partition `body` as its
    * doc_id, the UTF-8 bytes of its text and its n_chars. A null `text`
    * or `n_chars` fails with an error naming the doc_id; unboxed, it
    * would be a bare NullPointerException that names no row.
    */
  private def decodeDocs[T: Encoder](docs: DataFrame)(
      body: Iterator[(Long, Array[Byte], Long)] => Iterator[T]): Dataset[T] =
    docs.select(col("doc_id"), col("text"), col("n_chars"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.LONG))
      .mapPartitions { it =>
        body(it.map { case (id, text, nChars) =>
          if (text == null || nChars == null)
            throw new IllegalArgumentException(s"media decode: document doc_id $id " +
              s"has a null ${if (text == null) "text" else "n_chars"}")
          (id, text.getBytes("UTF-8"), nChars.longValue)
        })
      }

  /** The modality of a raw-text media payload (the %3 map). */
  private def rawKind(id: Long): String =
    if (id % 3 == 0) "image" else if (id % 3 == 1) "audio" else "video"

  /** ========== STUB ==========
    * Real implementation would decode the payload with an image/audio codec
    * (not available in this container) and pool pixel/sample values. The
    * deterministic fake below extracts an 8-bin byte-value histogram,
    * normalized by payload length — a real computation with the same shape
    * (fixed-dim float vector per record), so downstream operators (ANN over
    * features, filtering on feature norms) exercise genuine plumbing.
    */
  def decodeToFeatures(records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        val hist = new Array[Float](8)
        var i = 0
        while (i < r.payload.length) {
          hist((r.payload(i) & 0xFF) >> 5) += 1f
          i += 1
        }
        val n = math.max(r.payload.length, 1).toFloat
        MediaFeatures(r.media_id, r.meta.kind, hist.map(_ / n))
      }
    }
  }

  /** Frame sampling: split the payload into `frames` equal byte-range
    * chunks (a video decoder would seek to key frames; the byte-range split
    * is the deterministic stand-in) and explode one row per sampled frame.
    */
  def sampleFrames(records: Dataset[MediaRecord], frames: Int = 4): DataFrame =
    records.toDF()
      .withColumn("frame_idx", explode(sequence(lit(0), lit(frames - 1))))
      .withColumn("frame_bytes",
        expr(s"substring(payload, frame_idx * (meta.sizeBytes div $frames) + 1," +
          s" greatest(meta.sizeBytes div $frames, 1))"))
      .select(col("media_id"), col("meta.kind").as("kind"), col("frame_idx"),
        length(col("frame_bytes")).cast("long").as("frame_len"))

  case class MediaDims(
      media_id: Long,
      fmt: String,
      width: Option[Int],
      height: Option[Int],
      sample_rate: Option[Int],
      channels: Option[Int])

  /** Media corpus with REAL container encodings (not the histogram stub's
    * raw text bytes): each payload is a structurally valid PNG, JPEG,
    * WAV, or MP4 wrapping the document text as its data section —
    *
    *   - doc_id % 3 == 0 → PNG: 8-byte signature, IHDR chunk (big-endian
    *     width/height, real CRC32s), an IDAT-shaped data chunk, IEND;
    *   - doc_id % 3 == 1 → JPEG: SOI, APP0/JFIF, DQT, SOF0 (the segment
    *     that carries precision/height/width), SOS + data, EOI — the SOF
    *     sits at a non-fixed conceptual position so readers must walk
    *     marker segments, as with real camera output;
    *   - doc_id % 6 == 2 → WAV: RIFF/WAVE with a canonical fmt chunk
    *     (little-endian sample rate/channels) and a data chunk;
    *   - doc_id % 6 == 5 → MP4/ISO-BMFF: ftyp, moov(mvhd + trak(tkhd))
    *     — dims sit 16.16 fixed-point inside tkhd and the movie clock
    *     (timescale 600, the classic value) inside mvhd — and an mdat
    *     box carrying the data. The %3==2 residue the earlier rounds
    *     labeled "video" but synthesized as WAV now genuinely splits
    *     audio/video, making the third modality of the brief real.
    *
    * Dimensions/rates are deterministic functions of (doc_id, n_chars),
    * so the DuckDB oracle can compute the EXPECTED parse output
    * analytically while the Spark side round-trips through genuine bytes
    * — the hash compare then proves the parser reads the real structure.
    */
  def mediaWithHeaders(spark: SparkSession, sfDir: String): Dataset[MediaRecord] =
    mediaWithHeadersFrame(spark.read.parquet(s"$sfDir/documents.parquet"))

  /** [[mediaWithHeaders]] over an explicit documents frame — the ingest
    * gate's seam, so a batch slice synthesizes/parses only its own
    * containers.
    */
  private[graft] def mediaWithHeadersFrame(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    containerDecodeBuilds.incrementAndGet()
    decodeDocs(docs)(_.map { case (id, data, nChars) =>
      val w = (nChars % 640).toInt + 1
      val h = (nChars % 480).toInt + 1
      val payload = encodeContainer(id, nChars, data)
      val kind = (id % 6) match {
        case 0 | 1 | 3 | 4 => "image"
        case 2 => "audio"
        case _ => "video"
      }
      MediaRecord(id, payload, MediaMeta(kind, payload.length.toLong, w, h))
    })
  }

  /** The container SYNTHESIS kernel — the single definition of how a
    * document becomes genuine container bytes, shared by
    * [[mediaWithHeadersFrame]] and the fused audited-face pass so the
    * two can never drift.
    */
  private[graft] def encodeContainer(
      id: Long,
      nChars: Long,
      data: Array[Byte]): Array[Byte] = {
    val w = (nChars % 640).toInt + 1
    val h = (nChars % 480).toInt + 1
    (id % 6) match {
      case 0 | 3 => encodePng(w, h, data)
      case 1 | 4 => encodeJpeg(w, h, data)
      case 2 =>
        // the audio duration split (r18, the MP4 movie-clock
        // pattern): %12==2 keeps telephony-band rates (8-15 kHz —
        // every sub-KB payload is then sub-35 ms and r_short
        // honestly FAILS), %12==8 is a low-byte-rate telemetry
        // stream (rate ≈ n_chars/4 Hz, mono — duration ≥ 500 ms,
        // r_short PASSES), so the rule gates real audio rows both
        // ways instead of failing the whole modality. The slice
        // trades r_rate (sub-11 kHz fails the telephony floor) —
        // at ≤ 550 payload bytes a WAV passing BOTH rate and
        // duration is physically impossible (100 ms at 11 kHz
        // mono 16-bit needs 2200 data bytes).
        if (id % 12 == 8) encodeWav((nChars / 4).toInt.max(1), 1, data)
        else encodeWav(8000 + (nChars % 8).toInt * 1000,
          ((id / 6) % 2).toInt + 1, data)
      case _ =>
        // the duration-bearing split (r17): %12==5 carries a real
        // movie clock (1.0-5.0 s — clears the 100 ms floor),
        // %12==11 a SHORT clip (16-98 ms — fails it), so r_short
        // gates WITHIN the modality, not merely along the format
        // line. The mdat content is untouched either way.
        val dur = if (id % 12 == 11) (nChars % 50).toInt + 10
                  else (nChars % 2400).toInt + 600
        encodeMp4(w, h, 600, dur, data)
    }
  }

  // ---- container encoders (pure JVM, deterministic) ----

  private def be32(v: Int): Array[Byte] =
    Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  private def be16(v: Int): Array[Byte] =
    Array[Byte]((v >>> 8).toByte, v.toByte)

  private def le32(v: Int): Array[Byte] =
    Array[Byte](v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)

  private def le16(v: Int): Array[Byte] =
    Array[Byte](v.toByte, (v >>> 8).toByte)

  private def pngChunk(chunkType: String, data: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32()
    val typeBytes = chunkType.getBytes("US-ASCII")
    crc.update(typeBytes); crc.update(data)
    be32(data.length) ++ typeBytes ++ data ++ be32(crc.getValue.toInt)
  }

  private[graft] def encodePng(w: Int, h: Int, data: Array[Byte]): Array[Byte] = {
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    // IHDR: width, height, bit depth 8, color type 2 (truecolor), no
    // compression/filter/interlace flags beyond the mandatory zeros
    val ihdr = be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)
    sig ++ pngChunk("IHDR", ihdr) ++ pngChunk("IDAT", data) ++
      pngChunk("IEND", Array.emptyByteArray)
  }

  private[graft] def encodeJpeg(w: Int, h: Int, data: Array[Byte]): Array[Byte] = {
    val soi = Array[Byte](0xff.toByte, 0xd8.toByte)
    // APP0/JFIF: length 16, identifier, version 1.1, no thumbnail
    val app0 = Array[Byte](0xff.toByte, 0xe0.toByte) ++ be16(16) ++
      "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0) ++
      be16(1) ++ be16(1) ++ Array[Byte](0, 0)
    // DQT: a 64-entry table of ones — present so SOF is NOT at a fixed
    // offset and a parser must genuinely walk segments
    val dqt = Array[Byte](0xff.toByte, 0xdb.toByte) ++ be16(67) ++
      Array[Byte](0) ++ Array.fill[Byte](64)(1)
    // SOF0 (baseline): precision 8, height, width, 1 component
    val sof0 = Array[Byte](0xff.toByte, 0xc0.toByte) ++ be16(11) ++
      Array[Byte](8) ++ be16(h) ++ be16(w) ++
      Array[Byte](1, 1, 0x11, 0)
    // SOS header then entropy-coded stand-in data, then EOI
    val sos = Array[Byte](0xff.toByte, 0xda.toByte) ++ be16(8) ++
      Array[Byte](1, 1, 0, 0, 0x3f, 0)
    soi ++ app0 ++ dqt ++ sof0 ++ sos ++ data ++
      Array[Byte](0xff.toByte, 0xd9.toByte)
  }

  private[graft] def encodeWav(sampleRate: Int, channels: Int, data: Array[Byte]): Array[Byte] = {
    val bitsPerSample = 16
    val byteRate = sampleRate * channels * bitsPerSample / 8
    val blockAlign = channels * bitsPerSample / 8
    "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(channels) ++
      le32(sampleRate) ++ le32(byteRate) ++ le16(blockAlign) ++ le16(bitsPerSample) ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
  }

  /** Minimal structurally-valid ISO-BMFF/MP4: ftyp(isom/mp41),
    * moov(mvhd + trak(tkhd)), mdat. mvhd v0 carries the movie timescale
    * and duration; tkhd v0 carries track width/height as 16.16
    * fixed-point — the two places a real demuxer reads the numbers the
    * extent/dims queries need. Identity matrix, single track.
    */
  private[graft] def encodeMp4(
      w: Int, h: Int, timescale: Int, duration: Int,
      data: Array[Byte]): Array[Byte] = {
    def box(tp: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8) ++ tp.getBytes("US-ASCII") ++ body
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ be32(0) ++ "mp41".getBytes("US-ASCII"))
    val matrix = be32(0x10000) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x10000) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000)
    // mvhd v0: version/flags, ctime, mtime, timescale, duration, rate
    // 1.0, volume 1.0, 10 reserved bytes, matrix, 24 predefined, next id
    val mvhd = box("mvhd",
      be32(0) ++ be32(0) ++ be32(0) ++ be32(timescale) ++ be32(duration) ++
        be32(0x10000) ++ be16(0x100) ++ be16(0) ++ be32(0) ++ be32(0) ++
        matrix ++ Array.fill[Byte](24)(0) ++ be32(2))
    // tkhd v0: flags 7 (enabled, in-movie, in-preview), track 1; width/
    // height 16.16 fixed at body offsets 76/80
    val tkhd = box("tkhd",
      be32(7) ++ be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++ be32(duration) ++
        be32(0) ++ be32(0) ++ be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++
        matrix ++ be32(w << 16) ++ be32(h << 16))
    ftyp ++ box("moov", mvhd ++ box("trak", tkhd)) ++ box("mdat", data)
  }

  // ---- header parser (pure JVM, deterministic, magic-byte driven) ----

  private def readBe32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def readBe16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private def readLe32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def readLe16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** Find the first child box of type `tp` in the ISO-BMFF box range
    * [from, to): returns (payloadStart, boxEnd), or (-1, -1) when absent
    * or malformed. Long cursor — a declared box size near Int.MaxValue
    * walks off the range and rejects, never wraps. Minimal walker:
    * size==0 (to-end) and size==1 (64-bit largesize) reject rather than
    * parse — the never-throws contract holds either way.
    */
  private def bmffFind(b: Array[Byte], from: Long, to: Long, tp: String): (Long, Long) = {
    val t = tp.getBytes("US-ASCII")
    var i = from
    while (i + 8 <= to) {
      val ii = i.toInt
      val size = readBe32(b, ii)
      if (size < 8 || i + size.toLong > to) return (-1L, -1L)
      if (b(ii + 4) == t(0) && b(ii + 5) == t(1) &&
        b(ii + 6) == t(2) && b(ii + 7) == t(3)) return (i + 8, i + size)
      i += size.toLong
    }
    (-1L, -1L)
  }

  /** Detect the container from magic bytes and extract its header
    * metadata by walking the REAL byte structure: PNG IHDR (with CRC
    * verification), JPEG marker-segment walk to SOF0-SOF15, WAV RIFF
    * chunk walk to `fmt `, ISO-BMFF box walk moov→trak→tkhd. Returns
    * fmt "unknown" (all-null fields) for anything unrecognized or
    * truncated — never throws on junk bytes, the contract a 100 TB
    * crawl corpus demands.
    */
  private[graft] def parseMediaDims(b: Array[Byte]): (String, Option[Int], Option[Int], Option[Int], Option[Int]) = {
    def unknown = ("unknown", None, None, None, None)
    if (b.length >= 24 &&
      (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') {
      // PNG: first chunk must be IHDR; verify its CRC before trusting dims
      val len = readBe32(b, 8)
      if (len != 13 || b.length < 8 + 4 + 4 + 13 + 4) return unknown
      val typeOk = b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R'
      if (!typeOk) return unknown
      val crc = new java.util.zip.CRC32()
      crc.update(b, 12, 4 + 13)
      if (crc.getValue.toInt != readBe32(b, 8 + 4 + 4 + 13)) return unknown
      ("png", Some(readBe32(b, 16)), Some(readBe32(b, 20)), None, None)
    } else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      // JPEG: walk FF-marker segments until a start-of-frame (C0-CF minus
      // the non-frame C4/C8/CC); height/width live at +3/+5 past length.
      // Standalone markers (TEM 01, RST0-7 D0-D7, SOI D8, EOI D9) carry
      // NO length field — real camera output emits restart markers, so
      // the walk must skip them by 2 bytes, not read phantom lengths.
      var i = 2L
      while (i + 4 <= b.length && (b(i.toInt) & 0xff) == 0xff) {
        val marker = b(i.toInt + 1) & 0xff
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        val standalone = marker == 0x01 || (marker >= 0xd0 && marker <= 0xd9)
        if (isSof) {
          if (i + 2 + 2 + 5 > b.length) return unknown
          return ("jpeg", Some(readBe16(b, i.toInt + 7)), Some(readBe16(b, i.toInt + 5)), None, None)
        }
        if (standalone) i += 2
        else {
          val segLen = readBe16(b, i.toInt + 2)
          if (segLen < 2) return unknown
          i += 2 + segLen
        }
      }
      unknown
    } else if (b.length >= 12 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') {
      // WAV: walk RIFF chunks to `fmt ` (not a fixed offset — real files
      // can carry LIST/INFO chunks first). Cursor arithmetic in LONG: a
      // declared chunk size near Int.MaxValue must walk off the end and
      // reject, never wrap negative into an AIOOBE (the never-throws
      // crawl contract).
      var i = 12L
      while (i + 8 <= b.length) {
        val ii = i.toInt
        val isFmt = b(ii) == 'f' && b(ii + 1) == 'm' && b(ii + 2) == 't' && b(ii + 3) == ' '
        val size = readLe32(b, ii + 4)
        if (isFmt) {
          if (i + 8 + 8 > b.length) return unknown
          return ("wav", None, None,
            Some(readLe32(b, ii + 12)), Some(readLe16(b, ii + 10)))
        }
        if (size < 0) return unknown
        i += 8L + size.toLong + (size & 1) // RIFF chunks are word-aligned
      }
      unknown
    } else if (b.length >= 12 &&
      b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p') {
      // ISO-BMFF/MP4: top-level walk to moov, descend trak → tkhd;
      // width/height are 16.16 fixed-point at tkhd-v0 body offsets 76/80
      val (ms, me) = bmffFind(b, 0L, b.length.toLong, "moov")
      if (ms < 0) return unknown
      val (ts, te) = bmffFind(b, ms, me, "trak")
      if (ts < 0) return unknown
      val (ks, ke) = bmffFind(b, ts, te, "tkhd")
      if (ks < 0 || ks + 84 > ke || (b(ks.toInt) & 0xff) != 0) return unknown
      ("mp4",
        Some(readBe32(b, ks.toInt + 76) >>> 16),
        Some(readBe32(b, ks.toInt + 80) >>> 16), None, None)
    } else unknown
  }

  /** Media EXTENT from the real container bytes: the content-volume
    * number every curation budget needs — pixels (width×height) for
    * images, SAMPLE FRAMES and duration for audio. Unlike
    * [[parseMediaDims]] (header fields only), the WAV branch must also
    * walk to the `data` chunk and read its SIZE, then derive
    * duration_ms = data_bytes·1000 div byte_rate and frames =
    * data_bytes div block_align from the fmt chunk's own rate/channels
    * /bits — all integer arithmetic over parsed bytes, so the analytic
    * oracle certifies the full two-chunk walk. MP4 reads the movie
    * clock (timescale/duration) from mvhd and pixels from tkhd.
    * Returns (fmt, extent, duration_ms): extent = pixels | frames,
    * duration null for images, all-null for parser rejects.
    */
  private[graft] def parseMediaExtent(b: Array[Byte]): (String, Option[Long], Option[Long]) = {
    val (fmt, w, h, _, _) = parseMediaDims(b)
    fmt match {
      case "png" | "jpeg" =>
        (fmt, for { ww <- w; hh <- h } yield ww.toLong * hh.toLong, None)
      case "wav" =>
        // second RIFF walk: fmt chunk (byteRate at +16, blockAlign at
        // +20 within the chunk body) and the data chunk's size field.
        // Long cursor, same as parseMediaDims: oversized declared chunk
        // sizes walk off the end and reject instead of wrapping.
        var i = 12L
        var byteRate = 0L
        var blockAlign = 0L
        var dataSize = -1L
        while (i + 8 <= b.length && (byteRate == 0L || dataSize < 0L)) {
          val ii = i.toInt
          val isFmt = b(ii) == 'f' && b(ii + 1) == 'm' && b(ii + 2) == 't' && b(ii + 3) == ' '
          val isData = b(ii) == 'd' && b(ii + 1) == 'a' && b(ii + 2) == 't' && b(ii + 3) == 'a'
          val size = readLe32(b, ii + 4)
          if (size < 0) return ("unknown", None, None)
          if (isFmt) {
            if (i + 8 + 16 > b.length) return ("unknown", None, None)
            byteRate = readLe32(b, ii + 16).toLong
            blockAlign = readLe16(b, ii + 20).toLong
          }
          if (isData) dataSize = size.toLong
          i += 8L + size.toLong + (size & 1)
        }
        if (byteRate <= 0L || blockAlign <= 0L || dataSize < 0L)
          ("unknown", None, None)
        else
          ("wav", Some(dataSize / blockAlign),
            Some(dataSize * 1000L / byteRate))
      case "mp4" =>
        // movie clock lives in mvhd v0: timescale at body offset 12,
        // duration (in timescale units) at 16; extent = track pixels
        val (ms, me) = bmffFind(b, 0L, b.length.toLong, "moov")
        if (ms < 0) return ("unknown", None, None)
        val (vs, ve) = bmffFind(b, ms, me, "mvhd")
        if (vs < 0 || vs + 20 > ve || (b(vs.toInt) & 0xff) != 0)
          return ("unknown", None, None)
        val timescale = readBe32(b, vs.toInt + 12).toLong
        val duration = readBe32(b, vs.toInt + 16).toLong
        if (timescale <= 0L) ("unknown", None, None)
        else ("mp4",
          for { ww <- w; hh <- h } yield ww.toLong * hh.toLong,
          Some(duration * 1000L / timescale))
      case _ => ("unknown", None, None)
    }
  }

  /** Extent extraction as a registered query — the oracle computes the
    * expected pixels/frames/duration analytically from (doc_id,
    * n_chars) while the Spark side walks the real PNG/JPEG/WAV bytes.
    */
  def extentQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaWithHeaders(spark, sfDir)
      .mapPartitions { it =>
        it.map { r =>
          val (fmt, extent, durMs) = parseMediaExtent(r.payload)
          (r.media_id, fmt, extent, durMs)
        }
      }
      .toDF("media_id", "fmt", "extent", "duration_ms")
      .orderBy("media_id")
  }

  /** Extract the CONTENT (data section) from a real container: PNG IDAT
    * chunk bytes (concatenated across chunks — real encoders split
    * IDAT), JPEG entropy-coded bytes between the SOS header and EOI,
    * WAV data chunk bytes. The inverse of the encoders above, walking
    * the same genuine byte structure; None for anything unrecognized
    * or truncated (never throws — the crawl contract).
    */
  private[graft] def extractContent(b: Array[Byte]): Option[Array[Byte]] = {
    val (fmt, _, _, _, _) = parseMediaDims(b)
    fmt match {
      case "png" =>
        // Long cursor + Long bounds: a declared chunk length near
        // Int.MaxValue must reject with None, never wrap the bounds
        // check and throw from out.write
        val out = new java.io.ByteArrayOutputStream()
        var i = 8L
        var ok = true
        var iendSeen = false
        // content is complete only if the walk reaches IEND — a partial
        // download whose tail chunk is cut off must NOT fingerprint as
        // the full content
        while (ok && !iendSeen && i + 8 <= b.length) {
          val ii = i.toInt
          val len = readBe32(b, ii)
          if (len < 0 || i + 8L + len.toLong + 4L > b.length) ok = false
          else {
            val isIdat = b(ii + 4) == 'I' && b(ii + 5) == 'D' &&
              b(ii + 6) == 'A' && b(ii + 7) == 'T'
            val isIend = b(ii + 4) == 'I' && b(ii + 5) == 'E' &&
              b(ii + 6) == 'N' && b(ii + 7) == 'D'
            if (isIdat) out.write(b, ii + 8, len)
            if (isIend) iendSeen = true
            i += 8L + len.toLong + 4L
          }
        }
        if (ok && iendSeen) Some(out.toByteArray) else None
      case "jpeg" =>
        // walk marker segments to SOS; content = after the SOS header,
        // up to (not including) the trailing EOI. Standalone markers
        // (TEM, RST0-7, SOI, EOI) advance 2 bytes — no length field.
        var i = 2L
        while (i + 4 <= b.length && (b(i.toInt) & 0xff) == 0xff) {
          val marker = b(i.toInt + 1) & 0xff
          if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd9)) i += 2
          else {
            val segLen = readBe16(b, i.toInt + 2)
            if (segLen < 2) return None
            if (marker == 0xda) {
              val start = i + 2 + segLen
              val end = b.length - 2
              if (start > end || (b(end) & 0xff) != 0xff ||
                (b(end + 1) & 0xff) != 0xd9) return None
              return Some(java.util.Arrays.copyOfRange(b, start.toInt, end))
            }
            i += 2 + segLen
          }
        }
        None
      case "wav" =>
        var i = 12L
        while (i + 8 <= b.length) {
          val ii = i.toInt
          val isData = b(ii) == 'd' && b(ii + 1) == 'a' &&
            b(ii + 2) == 't' && b(ii + 3) == 'a'
          val size = readLe32(b, ii + 4)
          if (size < 0) return None
          if (isData) {
            if (i + 8L + size.toLong > b.length) return None
            return Some(java.util.Arrays.copyOfRange(b, ii + 8, ii + 8 + size))
          }
          i += 8L + size.toLong + (size & 1)
        }
        None
      case "mp4" =>
        // content = the mdat box payload, top-level walk
        val (ds, de) = bmffFind(b, 0L, b.length.toLong, "mdat")
        if (ds < 0) None
        else Some(java.util.Arrays.copyOfRange(b, ds.toInt, de.toInt))
      case _ => None
    }
  }

  /** CROSS-FORMAT content dedup: the same content re-containered (a PNG
    * and a WAV wrapping identical bytes) is invisible to the payload-
    * level face — near-dup blocks on kind and the container headers
    * shift every byte statistic. This row extracts the content section
    * from the REAL container bytes ([[extractContent]]) and fingerprints
    * it (Catalyst md5 — codegen, the md5-twin oracle convention), so
    * exact content dups group ACROSS formats: group id = smallest
    * member, canonical = the group root. The oracle fingerprints the
    * same bytes analytically (the data section carries exactly the
    * UTF-8 text), so a hash match certifies the extraction walk.
    *
    * Scale shape: extraction is map-side in the scan task; the only
    * exchange is the window over content_md5 partitions (bounded by dup
    * multiplicity, never single-partition); payloads never shuffle.
    */
  def contentDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    contentDedupOver(mediaWithHeaders(spark, sfDir)
      .mapPartitions { it =>
        it.map { r =>
          val (fmt, _, _, _, _) = parseMediaDims(r.payload)
          (r.media_id, fmt, extractContent(r.payload))
        }
      }
      .toDF("media_id", "fmt", "content"))
  }

  /** The grouping core of [[contentDedup]] over an explicit
    * (media_id, fmt, content) frame — the seam the null-singleton spec
    * drives with hand-built extraction failures (the synthetic corpus
    * always parses, so the corpus row cannot exercise that path).
    */
  private[graft] def contentDedupOver(extracted: DataFrame): DataFrame = {
    val w = Window.partitionBy("content_md5")
    extracted
      .withColumn("content_md5", md5(col("content")))
      // extraction failures (content_md5 null) must NOT pool into one
      // giant pseudo-group through the null window partition: each
      // unparseable payload is its own singleton, keyed by media_id
      .select(col("media_id"), col("fmt"), col("content_md5"),
        when(col("content_md5").isNotNull, min(col("media_id")).over(w))
          .otherwise(col("media_id")).as("group_id"),
        when(col("content_md5").isNotNull, count(lit(1)).over(w))
          .otherwise(lit(1L)).as("group_size"),
        when(col("content_md5").isNotNull,
          col("media_id") === min(col("media_id")).over(w))
          .otherwise(lit(true)).as("is_canonical"))
      .orderBy("media_id")
  }

  /** The fingerprint face of the CONTENT section — [[mediaSimHash]] and
    * [[segmentFix]] over the bytes [[extractContent]] recovers from the
    * real container walk, not over the payload. The `kind` column
    * carries the parsed container fmt (png/jpeg/wav/mp4) for
    * presentation only — it is NOT a blocking dimension here, which is
    * the whole point: container headers shift every byte statistic and
    * the payload-level face blocks on modality, so the same content
    * re-containered (a PNG and a WAV wrapping near-identical bytes) is
    * invisible to [[nearDupPairs]]; facing the extracted content makes
    * it visible. Rows whose extraction fails (truncated/unknown
    * containers) are excluded — un-walkable bytes cannot be content-
    * fingerprinted, and [[contentDedup]]'s null-singleton rule already
    * accounts for them at the exact-dup tier.
    */
  private[graft] def contentFingerprintFace(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // widened: md5 over every content byte dominates
    mediaWithHeadersFrame(graft.sources.IO.widened(
      spark.read.parquet(s"$sfDir/documents.parquet")))
      .mapPartitions { it =>
        val wh = HashFamily.Md5.windowHash()
        it.flatMap { r =>
          val (fmt, _, _, _, _) = parseMediaDims(r.payload)
          extractContent(r.payload).map { c =>
            (r.media_id, fmt, c.length.toLong, mediaSimHash(c, wh), segmentFix(c))
          }
        }
      }
      .toDF("media_id", "kind", "n_bytes", "sig", "ffix")
  }

  /** One fused content-face row ([[contentAuditedFace]]): fmt and
    * fidelity for EVERY media off the dims walk, face columns present
    * only when content extraction succeeds.
    */
  private[graft] final case class ContentAuditedRow(
      media_id: Long,
      fmt: String,
      fidelity: Long,
      content_bytes: Option[Long],
      sig: Option[Long],
      ffix: Option[Array[Long]])

  /** The fused CONTENT pass (r20): one container synthesis + header walk
    * per media emitting the content fingerprint face AND the
    * dims-derived fidelity — [[contentNearDupDecision]]'s single decode
    * product (kernels shared with [[contentFingerprintFace]] /
    * [[auditOf]], so the values cannot drift).
    */
  private[graft] def contentAuditedFace(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // widened: md5 over every content byte dominates
    mediaWithHeadersFrame(graft.sources.IO.widened(
      spark.read.parquet(s"$sfDir/documents.parquet")))
      .mapPartitions { it =>
        val wh = HashFamily.Md5.windowHash()
        it.map { r =>
          val (fmt, w, h, sr, ch) = parseMediaDims(r.payload)
          val c = extractContent(r.payload)
          ContentAuditedRow(r.media_id, fmt,
            fidelityOf(fmt, w, h, sr, ch, r.meta.sizeBytes),
            c.map(_.length.toLong), c.map(mediaSimHash(_, wh)),
            c.map(segmentFix))
        }
      }
      .toDF()
  }

  /** Plan-level non-null stamp (the [[graft.sources.IO.servedArtifact]]
    * idiom, locally): narrows an Option-encoded column the caller has
    * already filtered non-null, so the banded consumers' codegen stays
    * branch-free; an actually-null value fails loudly instead of
    * becoming codegen garbage.
    */
  private def assertNN(c: org.apache.spark.sql.Column, why: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
        org.apache.spark.sql.GraftSqlBridge.expression(c), Seq(why)))

  /** CROSS-FORMAT content NEAR-dup pairs: the near-dup analogue of
    * [[contentDedup]] (which needs EXACT content-md5 equality). Same
    * windows and the same lossless band-plus-flip blocking as
    * [[nearDupPairs]], but over content bytes with `kindBlocked =
    * false` — so the emitted pairs include (fmt_a ≠ fmt_b) rows the
    * payload-level operator cannot produce. The oracle computes the
    * expected fingerprints analytically from the document text (the
    * content section carries exactly the UTF-8 text on every container
    * path), so a hash match certifies extraction + fingerprint + the
    * cross-format join end to end.
    */
  def contentNearDupPairs(
      spark: SparkSession,
      sfDir: String,
      lenWindow: Long = NearDupLenWindow,
      maxHamming: Int = MediaFpMaxHamming,
      l1Window: Long = MediaFpL1Window): DataFrame =
    nearDupPairsOver(
      contentFingerprintFace(spark, sfDir).localCheckpoint(),
      lenWindow, maxHamming, l1Window, kindBlocked = false)
      .select(col("media_a"), col("media_b"),
        col("kind_a").as("fmt_a"), col("kind_b").as("fmt_b"),
        col("len_delta"), col("hamming"), col("l1_fix"))
      .orderBy("media_a", "media_b")

  /** The cross-format content DEDUP DECISION: connected components over
    * the [[contentNearDupPairs]] graph — which spans container formats —
    * plus the media keep rule ([[fidelityKeep]]): keep the
    * HIGHEST-FIDELITY container of the content (the real header parse:
    * pixels for image/video, rate×channels for audio; the units are
    * modality priorities, not a common scale — a deterministic curation
    * preference, ties to the lowest id). This is the multimodal curation
    * shape: the same content wrapped as PNG and JPEG keeps the container
    * whose parse reports the most signal. Media whose extraction fails
    * never enter the pair graph and decide as self-rooted singletons
    * (their keep is trivially true).
    *
    * ONE container pass (r20): the fused content face
    * ([[contentAuditedFace]], checkpointed) carries the content
    * fingerprint AND the dims-derived fidelity per media; extraction
    * failures ride the same frame with null face columns.
    */
  def contentNearDupDecision(
      spark: SparkSession,
      sfDir: String,
      lenWindow: Long = NearDupLenWindow,
      maxHamming: Int = MediaFpMaxHamming,
      l1Window: Long = MediaFpL1Window): DataFrame = {
    val fused = contentAuditedFace(spark, sfDir).localCheckpoint()
    val face = fused.where(col("sig").isNotNull)
      .select(col("media_id"), col("fmt").as("kind"),
        assertNN(col("content_bytes"), "content face n_bytes").as("n_bytes"),
        assertNN(col("sig"), "content face sig").as("sig"),
        assertNN(col("ffix"), "content face ffix").as("ffix"))
    fidelityKeep(face, fused.select("media_id", "fmt", "content_bytes", "fidelity"),
      kindBlocked = false, lenWindow, maxHamming, l1Window)
  }

  /** Header-metadata extraction as a registered query: synthesize real
    * containers, parse them back from bytes. The fmt column comes from
    * MAGIC BYTES, dims from the parsed header — nothing is passed through
    * from the synthesis side, so the oracle hash-compare certifies the
    * whole decode path.
    */
  def dimsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaWithHeaders(spark, sfDir)
      .mapPartitions { it =>
        it.map { r =>
          val (fmt, w, h, sr, ch) = parseMediaDims(r.payload)
          MediaDims(r.media_id, fmt, w, h, sr, ch)
        }
      }
      .toDF()
      .orderBy("media_id")
  }

  /** Metadata-only scan — the payload column must be pruned at the source.
    * Oracle-able: byte length of the UTF-8 payload.
    */
  def binaryMeta(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        substring(col("text"), 1, 16).as("head16"))
      .orderBy("doc_id")

  /** Feature-extraction end-to-end as a registered query: manufacture →
    * decode(stub) → fixed-dim features, one row per record.
    */
  def featureQuery(spark: SparkSession, sfDir: String): DataFrame =
    decodeToFeatures(mediaFromDocuments(spark, sfDir))
      .toDF()
      .orderBy("media_id")

  /** Frame-sampling end-to-end as a registered query. */
  def frameQuery(spark: SparkSession, sfDir: String): DataFrame =
    sampleFrames(mediaFromDocuments(spark, sfDir))
      .orderBy("media_id", "frame_idx")

  /** The SEGMENTED fixed-point feature face plus payload length — the
    * shared input of the near-dup operators: one decode pass emitting
    * (media_id, kind, n_bytes, ffix[8]) where ffix(s) is the mean byte
    * value of payload SEGMENT s (byte i belongs to segment i·8 div n —
    * 8 near-equal ranges), fixed-pointed as sum·10⁶ div count. This is
    * the coarse perceptual-hash shape: per-REGION statistics, so two
    * payloads only face-match when their bytes agree POSITIONALLY, not
    * merely in global value distribution — the whole-payload histogram
    * face this replaced made TRUE pair mass quasi-quadratic on a
    * same-language corpus (every same-length doc had a near-identical
    * histogram); segment means separate planted near-dups (L1 ≤ ~3.5
    * mean-byte units, measured) from background (≥ ~4) cleanly.
    *
    * The fix chain is PURE INTEGER (sum·1000000 div count, both operands
    * nonneg) — floor division matches DuckDB's `//` exactly, no IEEE
    * rounding contract needed; empty segments (n < 8) emit 0, the value
    * the oracle's COALESCE supplies for its missing groups.
    */
  /** The 8-segment fixed-point means of a payload — the shared kernel of
    * the face rows: ffix(s) = sum(byte)·10⁶ div count over segment
    * i·8 div n. Pure integer, floor division — DuckDB's `//` exactly.
    */
  private def segmentFix(payload: Array[Byte]): Array[Long] = {
    val n = payload.length
    val sums = new Array[Long](8)
    val cnts = new Array[Long](8)
    var i = 0
    while (i < n) {
      val s = (i.toLong * 8L / n.toLong).toInt
      sums(s) += (payload(i) & 0xFF).toLong
      cnts(s) += 1L
      i += 1
    }
    Array.tabulate(8) { s =>
      if (cnts(s) == 0L) 0L else sums(s) * 1000000L / cnts(s)
    }
  }

  /** The 60-bit HIGH-ENTROPY media fingerprint: simhash over the
    * DISTINCT 8-byte sliding windows of the payload (stride 1), each
    * window hashed by the family's window hash
    * ([[graft.functions.HashFamily.windowHash]]) — bit b of the result is
    * set iff at least half the distinct window hashes have bit b set.
    * This is what the segment-mean face could not be: positional AND
    * high-entropy. Consecutive-byte windows encode local order (two
    * payloads with equal byte statistics but different arrangements
    * share no windows), the majority vote tolerates small edits (an edit
    * perturbs ~8 of ~n windows), and stride 1 makes the window multiset
    * invariant under content shifts of any offset — the r15 face's
    * measured failure was exactly a low-entropy signal whose cross-copy
    * coincidence rate grew ~5×/corpus-decade.
    *
    * Under Md5 (md5 of each window's uppercase-hex image) DuckDB replays
    * the identical chain with hex()/md5()/substr, so the fingerprint is
    * hash-certifiable end to end; one md5 per payload byte, ~0.5 µs/byte
    * single-thread. Under Xx (XXH64 of the packed window) the same
    * structure costs ~20× less per byte — the honest production
    * fingerprint cost at 100 TB, where decode+hash IS the dominant pass.
    * A production swap-in point for a perceptual hash (pHash/chromaprint)
    * keeps every join downstream unchanged.
    *
    * The two families agree on the spec corpus's EXACT near-dup pair set
    * (Round17OpsSpec). At ×N both are 60-bit majority-vote estimators of
    * the same window-set resemblance, so genuinely-near pairs whose
    * per-bit majorities sit at small margins can project differently
    * under a different window hash — the probes measure ~98% pair-set
    * agreement (16/863 divergent at ×10, 197/8.6k at ×100), every
    * divergent pair inside [0,7] under its accepting family and [8,31]
    * under the rejecting one. Byte-identical payloads have identical
    * window sets, hence identical sigs under BOTH families — exact
    * duplicates can never diverge — and solid background (≥ 12 under
    * Md5) never enters either accept set. A deployment picks ONE family
    * and calibrates the threshold against it; Md5 remains the certifiable
    * reference.
    *
    * `wh` is the caller's per-partition window hasher, reused across rows.
    */
  private[graft] def mediaSimHash(payload: Array[Byte], wh: HashFamily.WindowHash): Long = {
    wh.load(payload)
    val m = math.max(payload.length - 7, 1)
    val seen = new java.util.HashSet[java.lang.Long]()
    val cnt = new Array[Int](60)
    var distinct = 0
    var i = 0
    while (i < m) {
      val h = wh(i)
      if (seen.add(h)) {
        distinct += 1
        var b = 0
        while (b < 60) { cnt(b) += ((h >>> b) & 1L).toInt; b += 1 }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (2 * cnt(b) >= distinct) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** [[mediaSimHash]] of one payload with a fresh window hasher. */
  private[graft] def mediaSimHash(payload: Array[Byte], family: HashFamily): Long =
    mediaSimHash(payload, family.windowHash())

  private[graft] def featureFace(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaFromDocuments(spark, sfDir)
      .mapPartitions { it =>
        it.map { r =>
          (r.media_id, r.meta.kind, r.payload.length.toLong, segmentFix(r.payload))
        }
      }
      .toDF("media_id", "kind", "n_bytes", "ffix")
  }

  /** The fingerprint face — the shared input of the near-dup operators
    * since round 16: one decode pass emitting (media_id, kind, n_bytes,
    * sig, ffix) where sig is [[mediaSimHash]] under `family` and ffix the
    * segment-mean face ([[segmentFix]]) retained as the secondary verify.
    */
  private[graft] def fingerprintFace(
      spark: SparkSession,
      sfDir: String,
      family: HashFamily): DataFrame =
    // widen-if-narrow at the HEAVY entry point only (IO.widened): the
    // per-byte fingerprint kernel dominates this pass; the light
    // mm rows (dims/extent/quality/segments) keep the plain scan — the
    // round-close bench measured the blanket widen as a 1.5-2x
    // regression on exactly those rows (trivial kernels, the exchange
    // is pure overhead — the txt explode-row lesson)
    fingerprintFaceFrom(
      mediaFromDocumentsFrame(graft.sources.IO.widened(
        spark.read.parquet(s"$sfDir/documents.parquet"))),
      family)

  /** [[fingerprintFace]] over an explicit media dataset (the stored-
    * index serve path decodes only the batch slice through this).
    */
  private[graft] def fingerprintFaceFrom(
      records: Dataset[MediaRecord],
      family: HashFamily): DataFrame = {
    import records.sparkSession.implicits._
    records
      .mapPartitions { it =>
        val wh = family.windowHash()
        it.map { r =>
          (r.media_id, r.meta.kind, r.payload.length.toLong,
            mediaSimHash(r.payload, wh), segmentFix(r.payload))
        }
      }
      .toDF("media_id", "kind", "n_bytes", "sig", "ffix")
  }

  /** One fused audited-face row: the fingerprint face columns (sig/ffix
    * over the RAW payload bytes, kind from the %3 modality map — exactly
    * [[fingerprintFaceFrom]]'s contract) plus the container-audit columns
    * ([[containerAudit]]'s contract: fmt, rule battery, keep, fidelity
    * off the synthesized container walk).
    */
  private[graft] final case class AuditedFaceRow(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      sig: Long,
      ffix: Array[Long],
      fmt: String,
      r_parse: Boolean,
      r_min_pixels: Option[Boolean],
      r_aspect: Option[Boolean],
      r_rate: Option[Boolean],
      r_short: Option[Boolean],
      r_dominant: Option[Boolean],
      keep: Boolean,
      fidelity: Long)

  /** The FUSED decode pass (r20): ONE documents scan emitting, per
    * media, the fingerprint face AND the container audit. Before this,
    * every decision row paid two decode passes — a raw fingerprint pass
    * plus a full container pass consumed only for its fidelity column —
    * and re-attached the two by a media_id join. The fused pass
    * synthesizes the container once, walks its headers once, and hashes
    * the raw bytes once, so the decision rows read fidelity (and the
    * curation capstone its quality gate) straight off the face: one
    * decode product per decision row, no re-attach join. At 100 TB the
    * decode IS the dominant cost, so halving the pass count is the
    * honest production shape, not a bench shortcut.
    *
    * Column-for-column parity with the two passes it replaces is
    * kernel-shared ([[encodeContainer]], [[auditOf]], [[mediaSimHash]],
    * [[segmentFix]]) and spec-pinned (Round20OptSpec).
    */
  private[graft] def auditedFace(
      spark: SparkSession,
      sfDir: String,
      family: HashFamily): DataFrame = {
    import spark.implicits._
    fusedDecodeBuilds.incrementAndGet()
    // widen-if-narrow BEFORE the fused decode kernel (IO.widened)
    decodeDocs(graft.sources.IO.widened(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"), col("n_chars")))) { it =>
      val wh = family.windowHash()
      it.map { case (id, data, nChars) =>
        val payload = encodeContainer(id, nChars, data)
        val a = auditOf(payload, payload.length.toLong)
        AuditedFaceRow(id, rawKind(id), data.length.toLong,
          mediaSimHash(data, wh), segmentFix(data), a.fmt, a.rParse,
          a.rPixels, a.rAspect, a.rRate, a.rShort, a.rDom, a.keep, a.fidelity)
      }
    }.toDF()
  }

  /** The fingerprint itself as a registered row. Under Md5 the DuckDB
    * replay walks the same hex/md5/majority chain, so a hash match
    * certifies the whole signature path — the mm_face_segments
    * convention applied to the signal the near-dup family actually
    * blocks on (`mm_fingerprint`); under Xx it is rows-only
    * (`mm_fingerprint_fast`).
    */
  def fingerprintQuery(spark: SparkSession, sfDir: String, family: HashFamily): DataFrame =
    fingerprintFace(spark, sfDir, family)
      .select(col("media_id"), col("kind"), col("n_bytes"), col("sig"))
      .orderBy("media_id")

  /** The face itself as an oracled row: one row per (media, segment),
    * integer fix values — the DuckDB replay walks the same bytes via
    * hex-pair slicing, so the hash match certifies the segment mapping
    * and the integer fix chain end-to-end (the mm_features_fix
    * convention, applied to the face the near-dup family actually
    * joins on).
    */
  def faceSegmentsQuery(spark: SparkSession, sfDir: String): DataFrame =
    featureFace(spark, sfDir)
      .select(col("media_id"), col("kind"), col("n_bytes"),
        posexplode(col("ffix")).as(Seq("seg", "ffix")))
      .select(col("media_id"), col("kind"), col("n_bytes"),
        col("seg").cast("int").as("seg"), col("ffix"))
      .orderBy("media_id", "seg")

  /** MULTIMODAL NEAR-DUP PAIRS — the dedup operator the text side has
    * had since round 4, over the media fingerprint: two payloads are
    * near-dups when they are the same SIZE up to `lenWindow` bytes (a
    * re-encode / re-container of the same media lands within a small
    * byte delta), their 60-bit [[mediaSimHash]] fingerprints are within
    * `maxHamming` (planted near-dups measure ≤ 7, the closest
    * background pair 12 — see the constants note), AND the retained
    * segment-mean L1 secondary check passes (`l1Window`).
    *
    * Candidates come from a LOSSLESS 4×15-bit banding of the
    * fingerprint with single-bit probing — the generalized pigeonhole:
    * Hamming ≤ 7 across 4 bands forces SOME band to differ in ≤ 1 bit,
    * so emitting each band value exactly (y side, 4 keys/media) against
    * the band value plus all 15 single-bit flips (x side, 64 keys/
    * media) guarantees every qualifying pair collides on at least one
    * band key — while a candidate must now match 15 bits of a
    * high-entropy signature exactly. That entropy is the r16 fix: the
    * r15 segment-face triple bands were lossless but their CELLS were
    * byte statistics, and on a byte-homogeneous corpus the cross-copy
    * coincidence mass grew ~5× per corpus decade (the r15 ×100 probe's
    * 52k-node quasi-component); simhash band cells are uniform
    * (measured max occupancy 5 at 5k media), so background collisions
    * are governed by 2⁻¹⁵ per band, not by how alike the corpus's
    * bytes are. The all-pairs DuckDB oracle re-proves the losslessness
    * every round (the dedup_jaccard_prefix adjudication convention).
    *
    * Scale shape: 68 thin key rows per media; candidates are Σ x·y over
    * per-(kind, band_key) cells; length window, Hamming verify, and
    * media ordering apply IN-JOIN on the carried (n_bytes, sig) — 16
    * bytes per key row, never the feature arrays. Verify-first: only
    * the in-join survivors (output-scale, multiplicity ≤ 4) pay the
    * ceiling-gated ffix joins for the L1 secondary and the distinct.
    *
    * Under Md5 the all-pairs oracle certifies the rows
    * (`mm_neardup_pairs`); under Xx they are rows-only
    * (`mm_neardup_pairs_fast`), equal to the Md5 pairs on the spec corpus
    * (Round17OpsSpec).
    */
  def nearDupPairs(
      spark: SparkSession,
      sfDir: String,
      family: HashFamily,
      lenWindow: Long = NearDupLenWindow,
      maxHamming: Int = MediaFpMaxHamming,
      l1Window: Long = MediaFpL1Window): DataFrame =
    nearDupPairsOver(
      fingerprintFace(spark, sfDir, family).localCheckpoint(),
      lenWindow, maxHamming, l1Window, kindBlocked = true)
      .select(col("media_a"), col("media_b"), col("kind_a").as("kind"),
        col("len_delta"), col("hamming"), col("l1_fix"))
      .orderBy("media_a", "media_b")

  /** The 4×15-bit banding keys of a fingerprint face slice. Exact
    * emission: band_key = band·2¹⁵ | bits [15·band, 15·band+15) of the
    * 60-bit sig — 4 keys per media. With `withFlips`, additionally every
    * single-bit variant of each band (60 more keys): the x side of a
    * pair join emits flips, the y side exact, and any pair whose
    * minimum per-band Hamming is ≤ 1 — which Hamming ≤ 7 over 4 bands
    * pigeonholes — collides. Key rows carry (kind, n_bytes, sig) so the
    * true windows verify in-join.
    */
  private def sigBandKeys(face: DataFrame, withFlips: Boolean): DataFrame = {
    // geometry comes from the shared constants the lossless guard is
    // derived from (bandBits-wide bands, namespaced by band index)
    val bits = MediaFpBandBits
    val mask = (1L << bits) - 1
    val exact = (0 until MediaFpBands).map { b =>
      expr(s"${b.toLong << bits}L + (shiftright(sig, ${bits * b}) & $mask)")
    }
    val flips =
      if (!withFlips) Seq.empty
      else for { b <- 0 until MediaFpBands; j <- 0 until bits } yield
        expr(s"${b.toLong << bits}L + ((shiftright(sig, ${bits * b}) & $mask) ^ ${1 << j})")
    face.select(col("media_id"), col("kind"), col("n_bytes"), col("sig"),
      explode(array((exact ++ flips): _*)).as("band_key"))
  }

  /** The pair core over an already-checkpointed fingerprint face —
    * shared by the pairs row (sorted presentation), the decision row
    * (feeds the component contraction unsorted), and the cross-format
    * content row (`kindBlocked = false`: modality/format stops being a
    * blocking dimension, so re-containered content dedups across
    * PNG/JPEG/WAV/MP4).
    *
    * VERIFY-FIRST shuffle economics (the r15 lesson, kept): the length
    * window, the Hamming verify, and the ordering predicate all apply
    * INSIDE the band-key join off the carried 16 bytes, so the only
    * rows that ever pay the ffix fetch and the distinct are true-pair
    * scale with multiplicity ≤ 4 (one per band; an exact-collision
    * band cannot also collide via a flip). The band join is hinted
    * shuffle_hash — it needs no order, and sorting the key rows was
    * measured pure overhead.
    */
  private[graft] def nearDupPairsOver(
      face: DataFrame,
      lenWindow: Long,
      maxHamming: Int,
      l1Window: Long,
      kindBlocked: Boolean): DataFrame = {
    requireLosslessWindow(maxHamming)
    val nFace = face.count()
    val x = sigBandKeys(face, withFlips = true)
    val y = sigBandKeys(face, withFlips = false)
    val baseCond =
      col("x.band_key") === col("y.band_key") &&
        col("x.media_id") < col("y.media_id") &&
        abs(col("x.n_bytes") - col("y.n_bytes")) <= lenWindow &&
        expr("bit_count(x.sig ^ y.sig)") <= maxHamming
    val cand = x.as("x").hint("shuffle_hash").join(y.as("y"),
        if (kindBlocked) col("x.kind") === col("y.kind") && baseCond
        else baseCond)
      .select(col("x.media_id").as("media_a"), col("y.media_id").as("media_b"),
        col("x.kind").as("kind_a"), col("y.kind").as("kind_b"),
        abs(col("x.n_bytes") - col("y.n_bytes")).as("len_delta"),
        expr("cast(bit_count(x.sig ^ y.sig) as int)").as("hamming"))
    val ffix = Dedup.broadcastIfSmall(face, nFace)
    l1Verified(cand, "media_a", ffix, "media_b", ffix, l1Window).distinct()
  }

  /** The ffix-L1 secondary verify every banded consumer shares: each
    * candidate row fetches the segment faces of its two endpoints (`aKey`
    * from `aFace`, `bKey` from `bFace`; the callers pass them through
    * their join-strategy gate), sums the positional |fa − fb| into
    * `l1_fix` and drops rows past `l1Window`. Only in-join survivors
    * reach it, so the ffix arrays cross output-scale rows only.
    */
  private def l1Verified(
      cand: DataFrame,
      aKey: String,
      aFace: DataFrame,
      bKey: String,
      bFace: DataFrame,
      l1Window: Long): DataFrame =
    cand
      .join(aFace.select(col("media_id").as(aKey), col("ffix").as("fa")), aKey)
      .join(bFace.select(col("media_id").as(bKey), col("ffix").as("fb")), bKey)
      .select(cand.columns.toSeq.map(col) :+
        aggregate(zip_with(col("fa"), col("fb"), (a, b) => abs(a - b)),
          lit(0L), (acc, x) => acc + x).as("l1_fix"): _*)
      .filter(col("l1_fix") <= l1Window)

  /** The FIDELITY of each media item, read off the REAL parsed headers:
    * the media corpus is re-synthesized with genuine PNG/JPEG/WAV/MP4
    * containers ([[mediaWithHeaders]]), each payload's header walked by
    * [[parseMediaDims]] (magic bytes → IHDR/SOF0/fmt chunk/tkhd), and
    * the fidelity derived from what the PARSE returned — width×height
    * for images and video, sample_rate×channels for audio, payload bytes as the
    * fallback for anything the parser rejects. Nothing passes through
    * from the synthesis side: a parser regression flips fidelities to
    * the fallback and the analytic oracle catches the hash drift.
    *
    * Scale shape: map-side only — one header walk per payload inside
    * the scan task, emitting an 8-byte fidelity per media; payloads
    * never shuffle.
    */
  private[graft] def fidelityFrame(spark: SparkSession, sfDir: String): DataFrame =
    containerAudit(mediaWithHeaders(spark, sfDir))
      .select("media_id", "fmt", "fidelity")

  /** ONE container pass emitting everything the curation gates read off
    * the parsed headers: the full quality-rule battery ([[qualityRulesFrom]]
    * is this minus fidelity) AND the fidelity the keeper election ranks
    * by — width×height for images/video, sample_rate×channels for
    * audio, payload bytes as the parser-reject fallback. The decode-once
    * seam: [[curationDecisions]] checkpoints this frame once instead of
    * letting the quality and fidelity consumers each re-synthesize and
    * re-walk the containers (at 100 TB the decode pass IS the dominant
    * cost — paying it per-gate was the r16 capstone's ~4× waste).
    */
  private[graft] def containerAudit(records: Dataset[MediaRecord]): DataFrame = {
    import records.sparkSession.implicits._
    records
      .mapPartitions { it =>
        it.map { r =>
          val a = auditOf(r.payload, r.meta.sizeBytes)
          (r.media_id, a.fmt, a.rParse, a.rPixels, a.rAspect, a.rRate,
            a.rShort, a.rDom, a.keep, a.fidelity)
        }
      }
      .toDF("media_id", "fmt", "r_parse", "r_min_pixels", "r_aspect",
        "r_rate", "r_short", "r_dominant", "keep", "fidelity")
  }

  /** One container's audit verdict — the per-payload kernel of
    * [[containerAudit]], factored out so the fused audited-face pass
    * applies the IDENTICAL rule battery and fidelity derivation (any
    * drift between the two would flip oracled decision rows).
    */
  private[graft] final case class ContainerVerdict(
      fmt: String,
      rParse: Boolean,
      rPixels: Option[Boolean],
      rAspect: Option[Boolean],
      rRate: Option[Boolean],
      rShort: Option[Boolean],
      rDom: Option[Boolean],
      keep: Boolean,
      fidelity: Long)

  private[graft] def auditOf(
      payload: Array[Byte],
      sizeBytes: Long): ContainerVerdict = {
    val (fmt, w, h, sr, ch) = parseMediaDims(payload)
    val (_, _, durMs) = parseMediaExtent(payload)
    val parseOk = fmt != "unknown"
    val visual = fmt == "png" || fmt == "jpeg" || fmt == "mp4"
    val rPixels: Option[Boolean] =
      if (visual) Some((for { ww <- w; hh <- h }
        yield ww.toLong * hh.toLong >= MediaMinPixels).getOrElse(false))
      else None
    val rAspect: Option[Boolean] =
      if (visual) Some((for { ww <- w; hh <- h }
        yield math.max(ww, hh).toLong <= MediaAspectMax * math.min(ww, hh).toLong)
        .getOrElse(false))
      else None
    val rRate: Option[Boolean] =
      if (fmt == "wav") Some(sr.exists(_ >= MediaMinRate)) else None
    val rShort: Option[Boolean] =
      if (fmt == "wav" || fmt == "mp4")
        Some(durMs.exists(_ >= MediaMinDurationMs))
      else None
    val rDom: Option[Boolean] =
      extractContent(payload).map(dominantByteOk)
    val keep = parseOk && rPixels.getOrElse(true) &&
      rAspect.getOrElse(true) && rRate.getOrElse(true) &&
      rShort.getOrElse(true) && rDom.getOrElse(false)
    ContainerVerdict(fmt, parseOk, rPixels, rAspect, rRate, rShort, rDom,
      keep, fidelityOf(fmt, w, h, sr, ch, sizeBytes))
  }

  /** The fidelity derivation off a parsed header — [[auditOf]]'s ranking
    * column, factored so the fused content pass (which only walks dims,
    * never extent/dominant) derives the IDENTICAL value.
    */
  private[graft] def fidelityOf(
      fmt: String,
      w: Option[Int],
      h: Option[Int],
      sr: Option[Int],
      ch: Option[Int],
      sizeBytes: Long): Long = fmt match {
    case "png" | "jpeg" | "mp4" =>
      (for { ww <- w; hh <- h } yield ww.toLong * hh.toLong)
        .getOrElse(sizeBytes)
    case "wav" =>
      (for { s <- sr; c <- ch } yield s.toLong * c.toLong)
        .getOrElse(sizeBytes)
    case _ => sizeBytes
  }

  /** The media DEDUP DECISION: connected components over the near-dup
    * pair graph, cluster size, and the keep flag ([[fidelityKeep]]).
    * Unlike text dedup (which keeps the lowest id / best quality
    * score), media dedup keeps the HIGHEST-FIDELITY copy — fidelity is
    * read off the REAL header parse of the synthesized container
    * (width×height for images, sample-rate×channels for audio, payload
    * bytes as the parser-reject fallback), ties to the lowest id.
    * `filter(keep)` is the deduplicated media corpus; the drop list
    * stays auditable, the text-dedup convention.
    *
    * One decode pass ([[auditedFace]], checkpointed) carries both the
    * fingerprint face the pair core reads and the fidelity column the
    * keep rule ranks by, so no second decode or re-attach join runs.
    * Under Md5 the recursive-CTE oracle certifies the rows
    * (`mm_dedup_decision`); under Xx they are rows-only
    * (`mm_dedup_decision_fast`), identical to the Md5 decision on the
    * spec corpus (Round18OpsSpec), and at ×N the divergence is the
    * characterized ~2% margin-band pair set (SCALING.md).
    */
  def nearDupDecision(
      spark: SparkSession,
      sfDir: String,
      family: HashFamily,
      lenWindow: Long = NearDupLenWindow,
      maxHamming: Int = MediaFpMaxHamming,
      l1Window: Long = MediaFpL1Window): DataFrame = {
    val face = auditedFace(spark, sfDir, family).localCheckpoint()
    fidelityKeep(face, face.select("media_id", "n_bytes", "fidelity"),
      kindBlocked = true, lenWindow, maxHamming, l1Window)
  }

  /** The decision tail [[nearDupDecision]] and [[contentNearDupDecision]]
    * share: the pair core over the (already-checkpointed) `face` feeds
    * the Cluster star contraction (singletons self-rooted, component id
    * = smallest member), then per component the cluster size and keep =
    * highest fidelity, ties to the lowest id. `base` holds one row per
    * media — media_id, fidelity and the presentation columns, which the
    * decision carries in order — including media that never enter the
    * pair graph.
    *
    * Scale shape: the pair core (lossless blocking, never all-pairs)
    * feeds the star contraction ((long, long) edges only); the decision
    * windows partition BY COMPONENT — never single-partition.
    */
  private def fidelityKeep(
      face: DataFrame,
      base: DataFrame,
      kindBlocked: Boolean,
      lenWindow: Long,
      maxHamming: Int,
      l1Window: Long): DataFrame = {
    val pairs = nearDupPairsOver(face, lenWindow, maxHamming, l1Window, kindBlocked)
    val comp = Cluster.connectedComponents(pairs, "media_a", "media_b")
      .withColumnRenamed("node", "media_id")
    val wC = Window.partitionBy("component_id")
    base
      .join(comp, Seq("media_id"), "left")
      .withColumn("component_id", coalesce(col("component"), col("media_id")))
      .withColumn("cluster_size", count(lit(1)).over(wC))
      .withColumn("keep",
        row_number().over(wC.orderBy(desc("fidelity"), asc("media_id"))) === 1)
      .select((Seq("media_id", "component_id", "cluster_size") ++
        base.columns.filter(_ != "media_id") :+ "keep").map(col): _*)
      .orderBy("media_id")
  }

  /** INCREMENTAL media near-dup — the per-batch serve shape every other
    * dedup family already has (the %10 carve convention): each batch
    * media (media_id % 10 == 0) is checked against the CORPUS slice
    * only, emitting its best corpus match (smallest Hamming, ties to
    * smallest L1 then lowest corpus id) or is_new when nothing sits
    * within all three windows. Candidates come from the same lossless
    * band-plus-flip blocking, asymmetric: the BATCH side pays the 64×
    * flip emission, the corpus emits its 4 exact keys — so the corpus
    * index is one thin row per (media, band), precomputable and never
    * reshuffled on account of the batch.
    */
  def incrementalNearDup(
      spark: SparkSession,
      sfDir: String,
      lenWindow: Long = NearDupLenWindow,
      maxHamming: Int = MediaFpMaxHamming,
      l1Window: Long = MediaFpL1Window): DataFrame = {
    val face = fingerprintFace(spark, sfDir, HashFamily.Md5).localCheckpoint()
    val batch = face.filter(col("media_id") % 10 === 0)
    val corpus = face.filter(col("media_id") % 10 =!= 0)
    incrementalNearDupFrames(batch, corpus, face, lenWindow, maxHamming, l1Window)
  }

  /** No single byte value may occupy more than half the content — the
    * degenerate-payload detector (solid-color fills, zero padding,
    * repeated-sample silence). Exposed for the unit spec; the corpus
    * row drives it through [[qualityRules]].
    */
  private[graft] def dominantByteOk(c: Array[Byte]): Boolean = {
    if (c.isEmpty) return false
    val cnt = new Array[Int](256)
    var i = 0
    while (i < c.length) { cnt(c(i) & 0xff) += 1; i += 1 }
    var mx = 0
    i = 0
    while (i < 256) { if (cnt(i) > mx) mx = cnt(i); i += 1 }
    2L * mx <= c.length
  }

  /** MEDIA QUALITY RULES — the multimodal analogue of the Gopher rule
    * battery (`txt_gopher_rules`): one map-side pass over the real
    * container bytes emitting per-rule verdicts and the keep decision.
    *
    *   - r_parse: the container walks (magic bytes → header) — a
    *     truncated or unknown payload fails here and nothing else
    *     applies;
    *   - r_min_pixels / r_aspect (image+video): parsed width×height ≥
    *     [[MediaMinPixels]], max(w,h) ≤ [[MediaAspectMax]]·min(w,h) —
    *     the tracking-pixel / banner-strip filters;
    *   - r_rate (audio): parsed sample rate ≥ [[MediaMinRate]];
    *   - r_short (audio+video): duration ≥ [[MediaMinDurationMs]],
    *     IN `keep` since r17 — the MP4 movie clock carries a
    *     deterministic within-modality split (the %12==11 short-clip
    *     slice fails, %12==5 passes), so the rule gates real rows both
    *     ways instead of merely tracing the format line. Every WAV on
    *     the stand-in corpus is GENUINELY sub-100 ms (≤ ~550 data
    *     bytes at ≥ 8 kHz 16-bit PCM is under 35 ms of audio) and an
    *     honest gate drops it — sub-100 ms clips are curation garbage;
    *   - r_dominant: no single byte value occupies > 50% of the
    *     EXTRACTED CONTENT ([[dominantByteOk]]) — the solid-fill /
    *     padding detector, and one more certification of the
    *     extraction walk (the oracle replays it over the text bytes).
    *
    * keep = r_parse ∧ modality rules ∧ r_short ∧ r_dominant. Null-rule
    * semantics:
    * a NON-APPLICABLE rule (wrong modality — r_min_pixels on audio,
    * r_rate on an image) is null and vacuously TRUE in the conjunction;
    * r_dominant is the one exception — it is null exactly when the
    * CONTENT EXTRACTION fails (parse-ok but truncated before IEND /
    * EOI / the data chunk), and an unextractable payload must FAIL
    * keep, not pass vacuously (the asymmetry is deliberate: the other
    * nulls mean "rule doesn't apply", this null means "payload is
    * broken"). All rules evaluate in the scan task; nothing shuffles
    * but the presentation sort.
    */
  def qualityRules(spark: SparkSession, sfDir: String): DataFrame =
    qualityRulesFrom(mediaWithHeaders(spark, sfDir))
      .orderBy("media_id")

  /** [[qualityRules]] over an explicit media dataset (no presentation
    * sort) — the ingest gate drives only its batch slice through this.
    * One [[containerAudit]] pass minus the fidelity column.
    */
  private[graft] def qualityRulesFrom(records: Dataset[MediaRecord]): DataFrame =
    containerAudit(records).drop("fidelity")

  /** MEDIA DECONTAMINATION: benchmark/eval media leaking into a training
    * corpus — the multimodal analogue of `Decontaminate.nearDupContaminationReport`.
    * The eval carve (media_id % 10 == 7, deterministic and
    * oracle-replayable; a real deployment passes its own eval set) is
    * fingerprint-banded WITH the single-bit flips and BROADCAST — eval
    * sets are tiny by definition — so the corpus side stays map-only:
    * exact band keys computed in the scan task, hash-joined against the
    * broadcast eval keys, length/Hamming verified in-join, and only
    * flagged candidates pay the ffix fetch for the L1 secondary. Output
    * is the FLAGGED corpus media with their best eval match (smallest
    * Hamming, then L1, then eval id) — `corpus.join(report, "left_anti")`
    * is the decontaminated corpus, the text-gate convention.
    *
    * Scale shape: zero corpus exchange for candidate generation (the
    * eval index rides the broadcast); the only shuffles are the
    * flagged-candidate verify joins and the best-match window, both
    * bounded by contamination volume, never corpus volume.
    */
  def decontamReport(
      spark: SparkSession,
      sfDir: String,
      lenWindow: Long = NearDupLenWindow,
      maxHamming: Int = MediaFpMaxHamming,
      l1Window: Long = MediaFpL1Window): DataFrame =
    decontamReportOver(fingerprintFace(spark, sfDir, HashFamily.Md5).localCheckpoint(),
      lenWindow, maxHamming, l1Window)

  /** [[decontamReport]] over an already-materialized fingerprint face —
    * the seam the decode-once capstone ([[curationDecisions]]) and the
    * stored-artifact row ([[decontamReportStored]]) share: neither
    * re-decodes or re-fingerprints the corpus payloads on this path.
    */
  private[graft] def decontamReportOver(
      face: DataFrame,
      lenWindow: Long,
      maxHamming: Int,
      l1Window: Long): DataFrame = {
    requireLosslessWindow(maxHamming)
    val evalSide = face.filter(col("media_id") % 10 === 7)
    val corpus = face.filter(col("media_id") % 10 =!= 7)
    val cand = sigBandKeys(corpus, withFlips = false)
      .select(col("media_id"), col("kind"), col("band_key"),
        col("n_bytes").as("nc"), col("sig").as("csig"))
      .join(broadcast(sigBandKeys(evalSide, withFlips = true)
          .select(col("media_id").as("eval_id"), col("kind"),
            col("band_key"), col("n_bytes").as("ne"), col("sig").as("esig"))),
        Seq("kind", "band_key"))
      .filter(abs(col("nc") - col("ne")) <= lenWindow &&
        expr("bit_count(csig ^ esig)") <= maxHamming)
      .select(col("media_id"), col("eval_id"),
        expr("cast(bit_count(csig ^ esig) as int)").as("hamming"))
    val scored = l1Verified(cand,
      "media_id", Dedup.broadcastIfSmall(face, face.count()),
      "eval_id", broadcast(evalSide), l1Window)
    val wB = Window.partitionBy("media_id")
      .orderBy(asc("hamming"), asc("l1_fix"), asc("eval_id"))
    scored.withColumn("rn", row_number().over(wB))
      .filter(col("rn") === 1)
      .select(col("media_id"), col("eval_id"), col("hamming"), col("l1_fix"))
      .orderBy("media_id")
  }

  /** MEDIA CURATION DECISIONS — the capstone trail composing the three
    * gates the family provides (the `Curate` / `corpus_ingest_decisions`
    * convention): per media, one audited decision with its REASON at a
    * documented precedence —
    *
    *   eval_holdout   the %10==7 eval carve is never training data;
    *   contaminated   flagged by [[decontamReport]] (an eval near-dup
    *                  leaves BEFORE dedup elects representatives);
    *   quality_fail   [[qualityRules]]' keep is false;
    *   near_dup       a SURVIVING higher-fidelity copy keeps the
    *                  content (see election below);
    *   kept           training corpus.
    *
    * The keeper ELECTION runs over gate SURVIVORS (not eval, not
    * contaminated, quality-ok): components keep their full-graph
    * identity (component_id = smallest member of the pair-graph
    * closure, a stable content key), but within each component the
    * keeper is the highest-fidelity SURVIVOR, ties to the lowest id —
    * so a component whose best copy is contaminated or quality-failed
    * still keeps its best CLEAN copy instead of dropping the content
    * wholesale (every clean member is itself a survivor, so any
    * component with a clean member elects a keeper). `dedup_keep` is
    * that election; non-survivors are never keepers.
    *
    * `filter(decision = 'kept')` is the curated media corpus; the trail
    * keeps every drop auditable.
    *
    * DECODE-ONCE scale shape (the r16 lesson): the corpus payloads are
    * decoded exactly ONCE — one fused pass ([[auditedFace]],
    * checkpointed) emits the fingerprint face the pair core and the
    * decontam gate read AND the quality rules + fidelity off the same
    * container walk. At 100 TB decode+fingerprint IS the dominant cost;
    * the r16 shape paid it ~4× by letting each gate rebuild its own face.
    * Everything downstream joins aggregate-thin frames by media_id — no
    * new exchange shapes.
    */
  def curationDecisions(
      spark: SparkSession,
      sfDir: String,
      lenWindow: Long = NearDupLenWindow,
      maxHamming: Int = MediaFpMaxHamming,
      l1Window: Long = MediaFpL1Window): DataFrame = {
    // ONE fused decode pass (r20) where the r17 shape paid two: the
    // audited face carries fingerprint AND audit columns, checkpointed
    // once and projected per gate
    val fused = auditedFace(spark, sfDir, HashFamily.Md5).localCheckpoint()
    curationFrom(
      fused,
      fused.select(col("media_id"), col("fmt"), col("keep").as("quality_ok"),
        col("fidelity")),
      lenWindow, maxHamming, l1Window)
  }

  /** The capstone over explicit faces — shared by the live row (which
    * builds and checkpoints both) and the stored row (which reads both
    * from artifacts): pair core → full-graph components → decontam
    * flags → survivor election.
    */
  private[graft] def curationFrom(
      face: DataFrame,
      audit: DataFrame,
      lenWindow: Long,
      maxHamming: Int,
      l1Window: Long): DataFrame = {
    val pairs = nearDupPairsOver(face, lenWindow, maxHamming, l1Window,
      kindBlocked = true)
    val comp = Cluster.connectedComponents(pairs, "media_a", "media_b")
      .withColumnRenamed("node", "media_id")
    val flagged = decontamReportOver(face, lenWindow, maxHamming, l1Window)
      .select(col("media_id"), lit(true).as("flagged"))
    val base = audit
      .join(comp, Seq("media_id"), "left")
      .join(flagged, Seq("media_id"), "left")
      .select(col("media_id"), col("fmt"),
        coalesce(col("component"), col("media_id")).as("component_id"),
        col("quality_ok"), col("fidelity"),
        coalesce(col("flagged"), lit(false)).as("contaminated"))
    curationElect(base).orderBy("media_id")
  }

  /** [[curationDecisions]] served from the persisted audited face
    * (self-priming): the production re-curation shape — a threshold or
    * precedence change re-runs the trail over stored thin rows without
    * decoding a single payload (the live row's dominant cost is the
    * decode pass; this row's plan contains none). Since mmface_v3 the
    * fingerprint face and the audit gates come off ONE artifact read —
    * the second artifact (and its prime-time decode pass) is retired.
    * Row-identical to the live row by construction, so it reuses the
    * live oracle.
    */
  def curationDecisionsStored(
      spark: SparkSession,
      sfDir: String,
      lenWindow: Long = NearDupLenWindow,
      maxHamming: Int = MediaFpMaxHamming,
      l1Window: Long = MediaFpL1Window): DataFrame = {
    // checkpoint the artifact read (the capstone consumes the face in
    // six places; a parquet scan re-executes per consumer where the
    // live row's checkpointed RDD does not) and serve it through the
    // stamped-read seam so the re-stamped non-null schema keeps the
    // band/verify codegen branch-free — off a plain nullable read the
    // "decode-free" path measured SLOWER than live at x100.
    val fused = servedAuditedFace(spark, sfDir).localCheckpoint()
    curationFrom(
      fused,
      fused.select(col("media_id"), col("fmt"), col("keep").as("quality_ok"),
        col("fidelity")),
      lenWindow, maxHamming, l1Window)
  }

  /** The survivor election + decision labeling over an explicit base
    * frame (media_id, fmt, component_id, quality_ok, fidelity,
    * contaminated) — the seam the planted-scenario spec drives with a
    * hand-built component whose best copy fails a gate (the corpus rows
    * exercise the composed operator; this isolates the election rule).
    */
  private[graft] def curationElect(base: DataFrame): DataFrame = {
    val wK = Window.partitionBy("component_id")
      .orderBy(desc("survivor"), desc("fidelity"), asc("media_id"))
    base
      .withColumn("survivor",
        !col("contaminated") && col("quality_ok") && col("media_id") % 10 =!= 7)
      .withColumn("dedup_keep",
        col("survivor") && row_number().over(wK) === 1)
      .select(col("media_id"), col("fmt"), col("component_id"),
        col("quality_ok"), col("dedup_keep"), col("contaminated"),
        when(col("media_id") % 10 === 7, "eval_holdout")
          .when(col("contaminated"), "contaminated")
          .when(!col("quality_ok"), "quality_fail")
          .when(!col("dedup_keep"), "near_dup")
          .otherwise("kept").as("decision"))
  }

  /** The persisted corpus-side media fingerprint face — the artifact
    * [[incrementalNearDupStored]] consumes. Token mmfp_v2: the media
    * payloads are SYNTHESIZED from the (unchanged) documents table, so
    * the footer fingerprint cannot see a synthesis change — the r18
    * %12==8 low-byte-rate WAV slice altered payload bytes and therefore
    * the stored sig/ffix values, which only a token bump can invalidate.
    * At 100 TB this is the table a production pipeline maintains across
    * crawl batches: one thin row per media (kind, n_bytes, 60-bit sig,
    * 8-long ffix), so serving a batch never re-decodes or
    * re-fingerprints the corpus payloads — the dominant cost of the live
    * row.
    */
  private[graft] def mediaIndex(sfDir: String): graft.sources.IO.Artifact =
    graft.sources.IO.Artifact(sfDir, "documents", "text", "mmfp", s"mmfp_v2|$sfDir",
      Seq("" -> MediaFaceSchema), ".parquet")

  /** [[incrementalNearDup]] consuming the PERSISTED corpus fingerprint
    * face (self-priming on first use — the stored-index convention of
    * `decontam_neardup_stored` / `dedup_jaccard_stored`): repeat
    * invocations decode and fingerprint only the BATCH slice (tiny by
    * definition — the documents filter sits BELOW the typed decode via
    * [[mediaFromDocumentsFrame]]), band the corpus by a map-side
    * explode over the stored 8-byte sigs, and pay the candidate-bounded
    * verify. Result is row-identical to the live row by construction
    * (the artifact IS the corpus face), so the registered row reuses
    * [[incrementalNearDup]]'s oracle.
    */
  def incrementalNearDupStored(
      spark: SparkSession,
      sfDir: String,
      lenWindow: Long = NearDupLenWindow,
      maxHamming: Int = MediaFpMaxHamming,
      l1Window: Long = MediaFpL1Window): DataFrame = {
    val corpus = graft.sources.IO.servedArtifact(spark, mediaIndex(sfDir)) { root =>
      fingerprintFace(spark, sfDir, HashFamily.Md5)
        .filter(col("media_id") % 10 =!= 0)
        .write.mode("overwrite").parquet(root)
    }.head
    val batch = fingerprintFaceFrom(mediaFromDocumentsFrame(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 10 === 0)), HashFamily.Md5).localCheckpoint()
    incrementalNearDupFrames(batch, corpus, batch.unionByName(corpus),
      lenWindow, maxHamming, l1Window)
  }

  /** The persisted FULL audited media face (both the corpus and the eval
    * carves — the %10 split is a column predicate over the stored rows,
    * so one artifact serves every consumer). Same token rationale as
    * [[mediaIndex]]: synthesis changes are invisible to the source-footer
    * fingerprint, so the r18 WAV-slice bump rides the token.
    *
    * Built ONCE — the artifact every stored mm row consumes. Token
    * mmface_v3 (r20): the artifact now carries the container-audit
    * columns (fmt, rule battery, keep, fidelity) fused alongside the
    * fingerprint face, so ONE prime pass and one artifact serve both the
    * fingerprint consumers ([[decontamReportStored]], the streams) and
    * the curation capstone's
    * quality/fidelity gates — the separate mmaudit artifact and its
    * second decode pass are retired. The eval fingerprint index is
    * STATIC by definition (a benchmark suite changes on release cadence,
    * not per query) and the corpus face is the standing index a
    * production pipeline maintains across crawl batches — neither should
    * be re-decoded per decontam sweep.
    */
  private[graft] def mediaFace(sfDir: String): graft.sources.IO.Artifact =
    graft.sources.IO.Artifact(sfDir, "documents", "text", "mmface", s"mmface_v3|$sfDir",
      Seq("" -> MediaFaceSchemaV3), ".parquet")

  /** The full audited face served from its artifact, self-priming —
    * the one entry every stored/streaming consumer shares.
    */
  private[graft] def servedAuditedFace(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.IO.servedArtifact(spark, mediaFace(sfDir)) { root =>
      auditedFace(spark, sfDir, HashFamily.Md5).write.mode("overwrite").parquet(root)
    }.head

  /** The fingerprint-face projection of [[servedAuditedFace]] — the
    * pre-r20 serve surface, unchanged for its consumers (the audit
    * columns prune out of their scans).
    */
  private[graft] def servedMediaFace(spark: SparkSession, sfDir: String): DataFrame =
    servedAuditedFace(spark, sfDir)
      .select("media_id", "kind", "n_bytes", "sig", "ffix")

  /** The fingerprint face's declared schema — non-nullability guaranteed
    * by [[fingerprintFaceFrom]]'s tuple encoder (primitives cannot be
    * null; the ffix elements come from a constructed Array[Long]).
    * Parquet reads mark every column nullable, and the banded consumers'
    * whole-stage codegen (the 68 band-key expressions, the bit_count
    * verifies, the zip_with L1) then pays a null branch per expression
    * per row: the ×100 pair core measured 39-41 s off a plain read vs
    * 25 s re-stamped — the single biggest serve-path cost and invisible
    * in the plan shape.
    */
  private[graft] val MediaFaceSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = false),
      StructField("sig", LongType, nullable = false),
      StructField("ffix", ArrayType(LongType, containsNull = false), nullable = true)))
  }

  /** The AUDITED face's declared schema (mmface_v3): [[MediaFaceSchema]]
    * plus the container-audit columns. The modality rules are genuinely
    * tri-state (null = rule not applicable to this format; r_dominant
    * null = content extraction failed), so only the unconditional
    * columns re-stamp non-null.
    */
  private[graft] val MediaFaceSchemaV3: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(MediaFaceSchema.fields.toSeq ++ Seq(
      StructField("fmt", StringType, nullable = true),
      StructField("r_parse", BooleanType, nullable = false),
      StructField("r_min_pixels", BooleanType, nullable = true),
      StructField("r_aspect", BooleanType, nullable = true),
      StructField("r_rate", BooleanType, nullable = true),
      StructField("r_short", BooleanType, nullable = true),
      StructField("r_dominant", BooleanType, nullable = true),
      StructField("keep", BooleanType, nullable = false),
      StructField("fidelity", LongType, nullable = false)))
  }

  /** [[decontamReport]] served from the PERSISTED fingerprint face
    * (self-priming on first use — the `decontam_neardup_stored` /
    * `mm_incremental_stored` convention): repeat sweeps read one thin
    * row per media (kind, n_bytes, 60-bit sig, 8-long ffix) and never
    * re-decode or re-fingerprint any payload — the dominant cost of the
    * live row at 100 TB. Row-identical to the live row by construction
    * (the artifact IS the face), so the registered row reuses
    * [[decontamReport]]'s oracle.
    */
  def decontamReportStored(
      spark: SparkSession,
      sfDir: String,
      lenWindow: Long = NearDupLenWindow,
      maxHamming: Int = MediaFpMaxHamming,
      l1Window: Long = MediaFpL1Window): DataFrame = {
    decontamReportOver(servedMediaFace(spark, sfDir),
      lenWindow, maxHamming, l1Window)
  }

  /** The serve core of [[incrementalNearDup]] over explicit frames —
    * shared with the streaming twin, whose micro-batches each carry a
    * slice of the batch face, and the stored-index row, whose corpus
    * side is the parquet artifact. `full` is the union the
    * ceiling-gated verify joins read (batch ∪ corpus in the batch row;
    * the primed full face in the stream).
    */
  private[graft] def incrementalNearDupFrames(
      batch: DataFrame,
      corpus: DataFrame,
      full: DataFrame,
      lenWindow: Long,
      maxHamming: Int,
      l1Window: Long): DataFrame = {
    requireLosslessWindow(maxHamming)
    val nFace = full.count()
    // verify-first like the pairs core: the length window and Hamming
    // verify apply inside the band join off the carried 16 bytes (the
    // row_number best-match below is multiplicity-blind, so candidates
    // keep their ≤4 band multiplicity through the ffix fetch)
    val cand = sigBandKeys(batch, withFlips = true)
      .select(col("media_id"), col("kind"), col("band_key"),
        col("n_bytes").as("nb"), col("sig").as("bsig"))
      .hint("shuffle_hash")
      .join(sigBandKeys(corpus, withFlips = false)
          .select(col("media_id").as("corpus_id"), col("kind"),
            col("band_key"), col("n_bytes").as("nc"), col("sig").as("csig")),
        Seq("kind", "band_key"))
      .filter(abs(col("nb") - col("nc")) <= lenWindow &&
        expr("bit_count(bsig ^ csig)") <= maxHamming)
      .select(col("media_id"), col("corpus_id"),
        expr("cast(bit_count(bsig ^ csig) as int)").as("hamming"))
    val ffix = Dedup.broadcastIfSmall(full, nFace)
    val scored = l1Verified(cand, "media_id", ffix, "corpus_id", ffix, l1Window)
    val wB = Window.partitionBy("media_id")
      .orderBy(asc("hamming"), asc("l1_fix"), asc("corpus_id"))
    val best = scored.withColumn("rn", row_number().over(wB))
      .filter(col("rn") === 1)
      .select(col("media_id"), col("corpus_id"), col("hamming"), col("l1_fix"))
    batch.select("media_id")
      .join(best, Seq("media_id"), "left")
      .select(col("media_id"), col("corpus_id").isNull.as("is_new"),
        col("corpus_id").as("dup_of"), col("hamming"), col("l1_fix"))
      .orderBy("media_id")
  }

  /** MEDIA INGEST GATE — `corpus_ingest_decisions` for media: each
    * batch arrival (the %10==0 carve) gets the full ADMISSION trail
    * against the standing corpus (%10 ∉ {0, 7}) and the eval carve
    * (%10 == 7), decision precedence contaminated > quality_fail >
    * near_dup > new. Unlike [[curationDecisions]] (which re-audits the
    * whole corpus), this is the per-batch serve shape: batch payloads
    * decode once (containers for the quality rules, raw bytes for the
    * fingerprint face — both through the pre-filtered document seams),
    * and BOTH verdict joins are the same asymmetric band-plus-flip
    * serve core — the corpus/eval sides are standing indexes the batch
    * never reshuffles.
    */
  def ingestDecisions(
      spark: SparkSession,
      sfDir: String,
      lenWindow: Long = NearDupLenWindow,
      maxHamming: Int = MediaFpMaxHamming,
      l1Window: Long = MediaFpL1Window): DataFrame = {
    val face = fingerprintFace(spark, sfDir, HashFamily.Md5).localCheckpoint()
    ingestDecisionsFromDocs(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 10 === 0),
      face.filter(col("media_id") % 10 === 0),
      face.filter(col("media_id") % 10 =!= 0 && col("media_id") % 10 =!= 7),
      face.filter(col("media_id") % 10 === 7),
      lenWindow, maxHamming, l1Window)
  }

  /** [[ingestDecisions]] served from the PERSISTED fingerprint face
    * (self-priming): the admission gate is the PER-BATCH hot path, and
    * the live row re-decodes and re-fingerprints the WHOLE corpus on
    * every invocation to build the standing indexes it joins against.
    * Here the corpus and eval carves read from the stored face (thin
    * rows, zero decode) and only the BATCH decodes — once for the
    * container audit, once for the fingerprint, both through the
    * pre-filtered document seams. Row-identical to the live row by
    * construction (the artifact IS the face; the batch face is the
    * same per-row pure function), so the registered row reuses its
    * oracle.
    */
  def ingestDecisionsStored(
      spark: SparkSession,
      sfDir: String,
      lenWindow: Long = NearDupLenWindow,
      maxHamming: Int = MediaFpMaxHamming,
      l1Window: Long = MediaFpL1Window): DataFrame = {
    val face = servedMediaFace(spark, sfDir)
    val batchDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 10 === 0)
    val batchFace = fingerprintFaceFrom(mediaFromDocumentsFrame(batchDocs), HashFamily.Md5)
      .localCheckpoint()
    ingestDecisionsFromDocs(
      batchDocs,
      batchFace,
      face.filter(col("media_id") % 10 =!= 0 && col("media_id") % 10 =!= 7),
      face.filter(col("media_id") % 10 === 7),
      lenWindow, maxHamming, l1Window)
  }

  /** The gate core over explicit frames — shared with the streaming
    * twin ([[mediaGateStream]]), whose micro-batches carry document and
    * face slices of the arrivals against the primed corpus/eval faces.
    */
  private[graft] def ingestDecisionsFromDocs(
      batchDocs: DataFrame,
      batchFace: DataFrame,
      corpusFace: DataFrame,
      evalFace: DataFrame,
      lenWindow: Long,
      maxHamming: Int,
      l1Window: Long): DataFrame = {
    val quality = qualityRulesFrom(mediaWithHeadersFrame(batchDocs))
      .select(col("media_id"), col("fmt"), col("keep").as("quality_ok"))
    val dup = incrementalNearDupFrames(batchFace, corpusFace,
        batchFace.unionByName(corpusFace), lenWindow, maxHamming, l1Window)
      .select(col("media_id"), col("dup_of"), col("hamming"), col("l1_fix"))
    val cont = incrementalNearDupFrames(batchFace, evalFace,
        batchFace.unionByName(evalFace), lenWindow, maxHamming, l1Window)
      .select(col("media_id"), (!col("is_new")).as("contaminated"),
        col("dup_of").as("eval_id"))
    quality
      .join(dup, Seq("media_id"))
      .join(cont, Seq("media_id"))
      .select(col("media_id"), col("fmt"), col("quality_ok"),
        col("contaminated"), col("eval_id"),
        col("dup_of"), col("hamming"), col("l1_fix"),
        when(col("contaminated"), "contaminated")
          .when(!col("quality_ok"), "quality_fail")
          .when(col("dup_of").isNotNull, "near_dup")
          .otherwise("new").as("decision"))
      .orderBy("media_id")
  }

  /** Streaming twin of [[ingestDecisions]]: arriving media_id
    * micro-batches get full admission trails against the SAME standing
    * corpus and eval faces, written idempotently per batch id. Since
    * r18 the face comes from the PERSISTED artifact (self-priming via
    * [[servedMediaFace]], like the batch stored row) — a restarted
    * stream no longer re-decodes the whole corpus at start, it reads
    * thin stamped rows; each micro-batch decodes only its own
    * documents through the pre-filtered seams. The carves are
    * checkpointed once before `.start()` so micro-batches re-read
    * memory, not the artifact, per batch.
    */
  def mediaGateStream(
      spark: SparkSession,
      sfDir: String,
      arrivals: DataFrame,
      outDir: String,
      lenWindow: Long = NearDupLenWindow,
      maxHamming: Int = MediaFpMaxHamming,
      l1Window: Long = MediaFpL1Window): org.apache.spark.sql.streaming.StreamingQuery = {
    val face = servedMediaFace(spark, sfDir).localCheckpoint()
    val corpusFace = face
      .filter(col("media_id") % 10 =!= 0 && col("media_id") % 10 =!= 7)
      .localCheckpoint()
    val evalFace = face.filter(col("media_id") % 10 === 7).localCheckpoint()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    arrivals.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ids = broadcast(batch.select(col("media_id")))
        ingestDecisionsFromDocs(
          docs.join(ids.withColumnRenamed("media_id", "doc_id"),
            Seq("doc_id"), "left_semi"),
          face.join(ids, Seq("media_id"), "left_semi"),
          corpusFace, evalFace, lenWindow, maxHamming, l1Window)
          .write.mode("overwrite")
          .parquet(s"$outDir/decisions/batch_id=$batchId")
        ()
      }
      .start()
  }

  /** Streaming twin of [[incrementalNearDup]] — the media-ingest
    * analogue of `Similarity.embIngestStream`: arriving media_id
    * micro-batches get verdict rows against the SAME corpus face slice
    * (media_id % 10 ≠ 0), written idempotently per batch id
    * (re-running a micro-batch overwrites its own directory, never
    * duplicates — the foreachBatch sink convention). Since r18 the
    * face is SERVED from the persisted artifact (self-priming,
    * [[servedMediaFace]]) and checkpointed eagerly before `.start()`
    * — a (re)started stream reads thin stamped rows instead of paying
    * the corpus-scale decode the stored rows exist to avoid; each
    * batch then pays only its own blocking keys × corpus cell
    * occupancy.
    */
  def mediaIngestStream(
      spark: SparkSession,
      sfDir: String,
      arrivals: DataFrame,
      outDir: String,
      lenWindow: Long = NearDupLenWindow,
      maxHamming: Int = MediaFpMaxHamming,
      l1Window: Long = MediaFpL1Window): org.apache.spark.sql.streaming.StreamingQuery = {
    val face = servedMediaFace(spark, sfDir).localCheckpoint()
    val corpus = face.filter(col("media_id") % 10 =!= 0).localCheckpoint()
    arrivals.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val batchFace = face.join(
          broadcast(batch.select(col("media_id"))), Seq("media_id"), "left_semi")
        incrementalNearDupFrames(batchFace, corpus, face,
          lenWindow, maxHamming, l1Window)
          .write.mode("overwrite")
          .parquet(s"$outDir/verdicts/batch_id=$batchId")
        ()
      }
      .start()
  }

  case class HistBin(media_id: Long, kind: String, bin: Int, cnt: Long, n_bytes: Long)

  /** The byte-histogram feature extraction with an ORACLE-EXACT face:
    * per media record, the non-empty bins of the 8-bin byte-value
    * histogram as INTEGER counts plus the payload length — the same
    * decode pass as [[decodeToFeatures]] minus the float normalization
    * (count/len as float is why the normalized-float row was retired
    * from the registry in r16: the two engines format/round floats
    * differently in an array, while integer counts hash exactly; the
    * float presentation is spec-pinned in Round16OpsSpec as exactly
    * cnt/n_bytes). The DuckDB replay walks the UTF-8 payload bytes
    * via hex-pair slicing, so a hash match certifies the byte loop.
    */
  def featureHistQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaFromDocuments(spark, sfDir)
      .mapPartitions { it =>
        it.flatMap { r =>
          val hist = new Array[Long](8)
          var i = 0
          while (i < r.payload.length) {
            hist((r.payload(i) & 0xFF) >> 5) += 1L
            i += 1
          }
          (0 until 8).iterator
            .filter(hist(_) > 0)
            .map(b => HistBin(r.media_id, r.meta.kind, b, hist(b), r.payload.length.toLong))
        }
      }
      .toDF()
      .orderBy("media_id", "bin")
  }
}
