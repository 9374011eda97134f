package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.queries.Tables

/** Multimodal column plumbing: media as opaque `binary` payloads with typed
  * metadata, processed in per-partition batches.
  *
  * The Spark-side shape is real and tested — schema, typed Dataset encoding,
  * partition-batched processing via `mapPartitions` (the Scala analog of a
  * batched pandas-UDF pipeline), deterministic feature output. The DECODE
  * step is a real pure-JVM codec for the image/audio formats in the
  * pipelines: uncompressed 24bpp BMP, 8-bit truecolor PNG, baseline JPEG
  * (huffman + IDCT, cross-validated against ImageIO), and RIFF/WAVE PCM16
  * (see [[MediaCodec]]) — the pipelines attach genuine container bytes and
  * the decoder reads dimensions/strides/chunks/entropy streams from the
  * file itself. Payloads in any OTHER format (video codecs like H.264,
  * JPEG variants outside the baseline profile) hit [[decodeStub]], the
  * clearly-marked stand-in for codecs this environment cannot host. */
object Multimodal {

  case class MediaRow(doc_id: Long, payload: Array[Byte], width: Int, height: Int, channels: Int)
  case class MediaFeatures(
      doc_id: Long,
      width: Long,
      height: Long,
      n_bytes: Long,
      mean_byte: java.lang.Double,
      max_byte: java.lang.Long,
      weighted_sum: java.lang.Long)

  /** STUB decode — stands in for codecs this environment cannot host
    * (H.264 video; JPEG variants outside the baseline profile, e.g.
    * progressive). Deterministic: "pixels" are the payload bytes cycled to
    * width*height*channels length. A production build swaps this for the
    * real decoder; everything downstream (batching, features, schema) is
    * unchanged. BMP, PNG, and baseline JPEG payloads never reach this —
    * [[decodeImage]] dispatches them to the real [[MediaCodec]] parsers. */
  def decodeStub(payload: Array[Byte], width: Int, height: Int, channels: Int): Array[Byte] =
    cycleBytes(payload, width * height * channels)

  /** Real decode dispatch: a well-formed BMP, PNG, or baseline JPEG payload
    * is parsed by the real codec (dims/stride/row-order/filters/entropy
    * stream come from the container, not the metadata); anything else falls
    * back to [[decodeStub]] with the row's advisory metadata. Returns
    * (width, height, channels, top-down RGB). */
  def decodeImage(r: MediaRow): (Int, Int, Int, Array[Byte]) =
    MediaCodec.decodeBmp(r.payload)
      .orElse(MediaCodec.decodePng(r.payload))
      .orElse(MediaCodec.decodeJpeg(r.payload))
      .orElse(MediaCodec.decodeGif(r.payload)) match {
      case Some(d) => (d.width, d.height, 3, d.pixels)
      case None => (r.width, r.height, r.channels, decodeStub(r.payload, r.width, r.height, r.channels))
    }

  /** Magic-byte container sniff + STRICT per-format decode — ONE definition
    * shared by the audits ([[mediaInfo]] — and through it the st16
    * streaming decode — and [[resizeAudit]]) so the sniff and the
    * no-fallback discipline cannot drift between them. Strict means the
    * payload is parsed by the sniffed container's codec ONLY — never
    * [[decodeImage]], whose stub fallback would echo the row's advisory
    * metadata (the exact values the arithmetic oracles recompute) and turn
    * a decoder regression into a silent pass. A parse failure returns
    * (fmt, None); audits emit -1 dims for it, which can never match an
    * oracle's planted geometry. */
  private def sniffStrict(p: Array[Byte]): (String, Option[MediaCodec.DecodedImage]) = {
    val fmt =
      if (p.length >= 2 && p(0) == 'B'.toByte && p(1) == 'M'.toByte) "bmp"
      else if (p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P'.toByte) "png"
      else if (p.length >= 2 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8) "jpeg"
      else if (p.length >= 4 && p(0) == 'G'.toByte && p(1) == 'I'.toByte && p(2) == 'F'.toByte && p(3) == '8'.toByte) "gif"
      else "unknown"
    val dec = fmt match {
      case "bmp"  => MediaCodec.decodeBmp(p)
      case "png"  => MediaCodec.decodePng(p)
      case "jpeg" => MediaCodec.decodeJpeg(p)
      case "gif"  => MediaCodec.decodeGif(p)
      case _      => None
    }
    (fmt, dec)
  }

  private def cycleBytes(src: Array[Byte], n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    if (src.isEmpty) return out
    var i = 0
    while (i < n) { out(i) = src(i % src.length); i += 1 }
    out
  }

  /** The ONE synthesized-payload construction shared by [[attachPayload]]
    * and [[phashPairs]]: text bytes cycled into a real container — PNG /
    * BMP / baseline JPEG / GIF cycling on `selector` — so every pipeline
    * run exercises all FOUR image parsers (including the full
    * huffman+IDCT path and the LZW expander). PNG/BMP carry the text
    * bytes cycled to a w×h×3 RGB raster and decode to it exactly; GIF is
    * palette-indexed (256-entry grayscale table), so its planted raster
    * is the text bytes cycled to w×h INDICES, decoding to gray triplets
    * (i, i, i) — lossless, just a different arithmetic (the mm03/mm06
    * oracles recompute both forms); JPEG decodes to its own deterministic
    * lossy raster (same bytes in ⇒ same features out, which is all the
    * pipeline contracts require). */
  private def makeImageRow(id: Long, selector: Long, w: Int, h: Int, text: String): MediaRow = {
    val bytes = if (text == null) Array.emptyByteArray else text.getBytes("UTF-8")
    val payload = (selector % 4) match {
      case 0 => MediaCodec.encodePng(w, h, cycleBytes(bytes, w * h * 3))
      case 1 => MediaCodec.encodeBmp(w, h, cycleBytes(bytes, w * h * 3))
      case 2 => MediaCodec.encodeJpeg(w, h, cycleBytes(bytes, w * h * 3))
      case _ => MediaCodec.encodeGifGray(w, h, cycleBytes(bytes, w * h))
    }
    MediaRow(id, payload, w, h, 3)
  }

  /** Attach a genuine binary media payload + typed metadata to documents.
    * The testdata carries no real media, so each doc's image is synthesized
    * deterministically — pixels are the utf8 text bytes cycled — but the
    * payload is a real, well-formed image file (cycling 8-bit truecolor
    * PNG, 24bpp BMP, baseline JPEG, and indexed GIF89a by doc id, so every
    * pipeline run exercises all FOUR real parsers; any external viewer
    * opens any of them). */
  def attachPayload(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    // the per-row encode/decode is CPU-bound: spread it over the cores
    Tables.spread(docs, "doc_id")
      .select(col("doc_id").cast("long"), col("text"), col("n_chars").cast("long"))
      .as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        makeImageRow(id, selector = id, (nChars % 64 + 16).toInt, (id % 48 + 16).toInt, text)
      }
  }

  /** Container-header audit — the first ORACLE-BACKED multimodal query:
    * per doc, the format sniffed from the payload magic, the
    * decoder-parsed dimensions, and (for the lossless containers) the
    * exact sum of the decoded raster bytes. Every output is
    * reconstructible ARITHMETICALLY from the documents table — the
    * planted geometry is (n_chars%64+16) × (doc_id%48+16), the format
    * cycles on doc_id%4 (png/bmp/jpeg/gif), and the lossless raster is the
    * text's UTF-8 bytes cycled to w·h·3 (or, for the palette-indexed GIF,
    * to w·h gray indices — sum 3× the cycled bytes) — so a DuckDB oracle
    * recomputes the expected
    * values without parsing a single byte of container, and a hash match
    * proves the real writers and header/filter/inflate parsers round-trip
    * geometry AND pixels exactly. JPEG raster sums are NULL by contract
    * (entropy coding is lossy; its raster is pinned by the ImageIO
    * cross-validation spec instead). Assumes ASCII text (the corpus
    * contract: [a-z0-9 ]); a non-ASCII drop would hash-mismatch loudly
    * rather than silently pass. */
  def mediaInfo(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    attachPayload(docs)
      .mapPartitions { it =>
        it.map { r =>
          val (fmt, dec) = sniffStrict(r.payload)
          dec match {
            case Some(di) =>
              val sum: java.lang.Long =
                if (fmt == "png" || fmt == "bmp" || fmt == "gif") {
                  var s = 0L; var i = 0
                  while (i < di.pixels.length) { s += (di.pixels(i) & 0xff); i += 1 }
                  java.lang.Long.valueOf(s)
                } else null
              (r.doc_id, fmt, di.width.toLong, di.height.toLong,
                di.width.toLong * di.height, sum)
            case None =>
              (r.doc_id, fmt, -1L, -1L, -1L, null: java.lang.Long)
          }
        }
      }
      .toDF("doc_id", "format", "width", "height", "n_pixels", "raster_sum")
  }

  /** Partition-batched STRICT decode → feature extraction. Features are
    * simple deterministic statistics over the decoded raster (mean, max,
    * and an ORDER-SENSITIVE position-weighted checksum Σ(i+1)·px[i] — a
    * reversed/permuted row order changes it, so the audit proves the
    * parsers round-trip pixel ORDER, not just the multiset; rolling-hash
    * fingerprinting proper is q43's oracle-backed operator).
    * ORACLE-BACKED on the mm06 contract: the strict per-sniff decode
    * (never the metadata-echoing stub), lossless rasters recomputed
    * arithmetically from the planted cycled text (the checksum has a
    * closed form under byte cycling), lossy JPEG feature cells NULL (its
    * raster is pinned by the ImageIO cross-validation + aHash specs), a
    * parse failure emitting -1 dims that can never match the oracle. */
  def extractFeatures(rows: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { r =>
        val (fmt, dec) = sniffStrict(r.payload)
        dec match {
          case Some(di) if fmt == "jpeg" =>
            MediaFeatures(r.doc_id, di.width.toLong, di.height.toLong,
              di.pixels.length.toLong, null, null, null)
          case Some(di) =>
            val px = di.pixels
            var sum = 0L
            var mx = 0L
            var ws = 0L
            var i = 0
            while (i < px.length) {
              val v = px(i) & 0xff
              sum += v
              if (v > mx) mx = v
              ws += (i + 1).toLong * v
              i += 1
            }
            MediaFeatures(r.doc_id, di.width.toLong, di.height.toLong, px.length.toLong,
              java.lang.Double.valueOf(sum.toDouble / px.length),
              java.lang.Long.valueOf(mx), java.lang.Long.valueOf(ws))
          case None =>
            MediaFeatures(r.doc_id, -1L, -1L, -1L, null, null, null)
        }
      }
    }
  }

  /** End-to-end pipeline over the documents table. */
  def pipeline(docs: DataFrame): DataFrame =
    extractFeatures(attachPayload(docs)).toDF()

  case class FrameFeatures(
      doc_id: Long, frame_idx: Long,
      mean_byte: java.lang.Double, max_byte: java.lang.Long)

  /** Video-style frame sampling: treat the decoded raster as `height`
    * scanline frames of width·3 bytes each, keep every `stride`-th frame,
    * and extract per-frame features. One input row fans out to its sampled
    * frames — the explode/batch shape a real video pipeline has.
    * ORACLE-BACKED on the mm06 contract (strict sniffed decode;
    * lossless frame windows recomputed arithmetically from the planted
    * cycled text; JPEG frames keep their planted grid but NULL feature
    * cells; a parse failure emits one frame_idx = -1 row the oracle can
    * never contain). */
  def sampleFrames(rows: Dataset[MediaRow], stride: Int): Dataset[FrameFeatures] = {
    import rows.sparkSession.implicits._
    rows.flatMap { r =>
      val (fmt, dec) = sniffStrict(r.payload)
      dec match {
        case Some(di) =>
          val frameLen = di.width * 3 // one "scanline frame" per height unit
          (0 until di.height by stride).map { f =>
            if (fmt == "jpeg") FrameFeatures(r.doc_id, f.toLong, null, null)
            else {
              var sum = 0L
              var mx = 0L
              var i = f * frameLen
              val end = i + frameLen
              while (i < end) {
                val v = di.pixels(i) & 0xff
                sum += v
                if (v > mx) mx = v
                i += 1
              }
              FrameFeatures(r.doc_id, f.toLong,
                java.lang.Double.valueOf(sum.toDouble / frameLen),
                java.lang.Long.valueOf(mx))
            }
          }
        case None => Seq(FrameFeatures(r.doc_id, -1L, null, null))
      }
    }
  }

  /** Frame-sampling pipeline over documents (every 4th frame). */
  def framePipeline(docs: DataFrame): DataFrame =
    sampleFrames(attachPayload(docs), stride = 4).toDF()

  case class ResizedFeatures(
      doc_id: Long, out_w: Int, out_h: Int, n_bytes: Long,
      mean_byte: Double, corner_tl: Int, corner_br: Int)

  /** Nearest-neighbor resize to (outW, outH): source index mapping
    * `src = dst * srcDim / outDim` per axis — the standard NN resize grid,
    * run on the decoded pixels ([[decodeImage]]: real BMP parse, stub
    * fallback). The mapPartitions batch-in/batch-out shape (and the per-row
    * output contract: fixed outW*outH*channels bytes + summary features) is
    * exactly what a real resize UDF has. */
  def resize(rows: Dataset[MediaRow], outW: Int, outH: Int): Dataset[ResizedFeatures] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { r =>
        val (w, h, c, px) = decodeImage(r)
        val out = new Array[Byte](outW * outH * c)
        var y = 0
        while (y < outH) {
          val sy = y * h / outH
          var x = 0
          while (x < outW) {
            val sx = x * w / outW
            var ch = 0
            while (ch < c) {
              out((y * outW + x) * c + ch) = px((sy * w + sx) * c + ch)
              ch += 1
            }
            x += 1
          }
          y += 1
        }
        var sum = 0L
        var i = 0
        while (i < out.length) { sum += out(i) & 0xff; i += 1 }
        ResizedFeatures(
          r.doc_id, outW, outH, out.length.toLong,
          sum.toDouble / out.length, out(0) & 0xff, out(out.length - 1) & 0xff)
      }
    }
  }

  /** ORACLE-BACKED resize audit (the mm06 planted-geometry pattern applied
    * to mm03): per doc, STRICT per-format decode (parse failure ⇒ -1s, the
    * mediaInfo discipline — never the metadata-echoing stub), then the
    * 16×16 nearest-neighbor grid over the decoded raster, reported as
    * integer-exact features: the resized-byte sum and the two corner
    * bytes. For the lossless containers the decoded raster IS the planted
    * cycled-text bytes, so a DuckDB oracle recomputes every value from the
    * documents table (`src = ((y·h/16)·w + x·w/16)·3 + ch`, byte =
    * text[src mod len]) without parsing a container — a hash match proves
    * the real writers+parsers round-trip pixels through the NN grid
    * exactly. JPEG rows emit NULL pixel features by the same contract as
    * mm06's raster_sum (entropy coding is lossy; its resize output is
    * pinned by the ImageIO cross-validation spec instead); geometry
    * columns verify for ALL rows. */
  def resizeAudit(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val outW = 16
    val outH = 16
    attachPayload(docs)
      .mapPartitions { it =>
        it.map { r =>
          val (fmt, dec) = sniffStrict(r.payload)
          dec match {
            case Some(di) if fmt == "png" || fmt == "bmp" || fmt == "gif" =>
              val (w, h, px) = (di.width, di.height, di.pixels)
              var sum = 0L
              var y = 0
              while (y < outH) {
                val sy = y * h / outH
                var x = 0
                while (x < outW) {
                  val sx = x * w / outW
                  var ch = 0
                  while (ch < 3) { sum += px((sy * w + sx) * 3 + ch) & 0xff; ch += 1 }
                  x += 1
                }
                y += 1
              }
              val tl = px(0) & 0xff
              val br = px((((outH - 1) * h / outH) * w + (outW - 1) * w / outW) * 3 + 2) & 0xff
              (r.doc_id, fmt, outW.toLong, outH.toLong, outW.toLong * outH * 3,
                java.lang.Long.valueOf(sum), java.lang.Long.valueOf(tl.toLong),
                java.lang.Long.valueOf(br.toLong))
            case Some(_) => // jpeg: geometry verified, pixel features NULL by contract
              (r.doc_id, fmt, outW.toLong, outH.toLong, outW.toLong * outH * 3,
                null: java.lang.Long, null: java.lang.Long, null: java.lang.Long)
            case None =>
              (r.doc_id, fmt, -1L, -1L, -1L,
                null: java.lang.Long, null: java.lang.Long, null: java.lang.Long)
          }
        }
      }
      .toDF("doc_id", "format", "out_w", "out_h", "n_bytes",
        "resized_sum", "corner_tl", "corner_br")
  }

  case class AudioWindow(doc_id: Long, win_idx: Int, rms: Double, zero_crossings: Int)

  /** Audio-style plumbing: the payload decoded to 16-bit PCM samples, framed
    * into `win`-sample windows at `hop` stride, per-window RMS and
    * zero-crossing count — the exact fan-out/feature shape a real audio
    * featurizer (VAD, loudness normalization) has. A RIFF/WAVE payload is
    * parsed by the real chunk-walking codec ([[MediaCodec.decodeWavPcm16]]);
    * any other payload falls back to a raw big-endian PCM16 read — that
    * fallback IS the stub boundary for containers this environment cannot
    * decode. */
  def audioWindows(rows: Dataset[MediaRow], win: Int = 256, hop: Int = 128): Dataset[AudioWindow] = {
    import rows.sparkSession.implicits._
    rows.flatMap { r =>
      val samples: Array[Int] = MediaCodec.decodeWavPcm16(r.payload).getOrElse {
        val bytes = r.payload
        val n = bytes.length / 2
        val raw = new Array[Int](n)
        var i = 0
        while (i < n) {
          raw(i) = (bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xff)
          i += 1
        }
        raw
      }
      val n = samples.length
      val out = Seq.newBuilder[AudioWindow]
      var w = 0
      var start = 0
      while (start + win <= n) {
        var sumSq = 0L
        var zc = 0
        var j = 0
        while (j < win) {
          val s = samples(start + j)
          sumSq += s.toLong * s
          if (j > 0 && ((s >= 0) != (samples(start + j - 1) >= 0))) zc += 1
          j += 1
        }
        out += AudioWindow(r.doc_id, w, math.sqrt(sumSq.toDouble / win), zc)
        w += 1
        start += hop
      }
      out.result()
    }
  }

  /** Attach a genuine RIFF/WAVE PCM16 payload to documents: samples are
    * derived deterministically from the utf8 text bytes (big-endian pairs,
    * the same derivation the raw fallback reads), wrapped in a real WAV
    * container that any external player opens and that
    * [[MediaCodec.decodeWavPcm16]] parses chunk-by-chunk. */
  def attachAudioPayload(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    Tables.spread(docs, "doc_id") // spread the CPU-bound per-row encode
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = if (text == null) Array.emptyByteArray else text.getBytes("UTF-8")
        val n = bytes.length / 2
        val samples = new Array[Short](n)
        var i = 0
        while (i < n) {
          samples(i) = ((bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xff)).toShort
          i += 1
        }
        MediaRow(id, MediaCodec.encodeWavPcm16(samples), 0, 0, 1)
      }
  }

  /** Audio-window pipeline over documents (64-sample windows, 32 hop — the
    * doc payloads are short). */
  def audioPipeline(docs: DataFrame): DataFrame =
    audioWindows(attachAudioPayload(docs), win = 64, hop = 32).toDF()

  case class PHashRow(doc_id: Long, phash: Long)

  /** Perceptual average-hash (aHash): NN-resize the (stub-)decoded image to
    * 8×8, channel-average to grayscale, threshold each cell against the
    * image mean → 64-bit hash. Visually-near images differ in few bits, so
    * image near-dup detection is Hamming distance on 8 bytes — the standard
    * image-dedup trick at corpus scale. Decode is [[decodeImage]] (real BMP
    * parse, stub fallback). The threshold is the INTEGER-EXACT form of the
    * aHash rule: cell_gray > mean(gray) ⟺ 64·s_cell > Σ s (the channel
    * divisor cancels) — identical bits to the floating form away from
    * ties, no double rounding at the boundary, and arithmetic a SQL oracle
    * replays exactly. */
  def perceptualHash(rows: Dataset[MediaRow]): Dataset[PHashRow] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { r =>
        val (w, h0, c, px) = decodeImage(r)
        val s = new Array[Long](64)
        var tot = 0L
        var y = 0
        while (y < 8) {
          val sy = y * h0 / 8
          var x = 0
          while (x < 8) {
            val sx = x * w / 8
            var cs = 0L
            var ch = 0
            while (ch < c) { cs += px((sy * w + sx) * c + ch) & 0xff; ch += 1 }
            s(y * 8 + x) = cs
            tot += cs
            x += 1
          }
          y += 1
        }
        var h = 0L
        var i = 0
        while (i < 64) { if (64L * s(i) > tot) h |= (1L << i); i += 1 }
        PHashRow(r.doc_id, h)
      }
    }
  }

  /** Image near-dup summary by perceptual hash: candidates share one of
    * four 16-bit hash chunks (pigeonhole — any pair within Hamming 3 must
    * share a chunk; wider matches surface when chunks agree), then every doc
    * reports its candidate count and closest match by full Hamming. Same
    * bucketed shape as SimHash text dedup: only (chunk, key, id) crosses the
    * shuffle, never pixels. One row per doc — byte-identical images show
    * best_hamming 0. ORACLE-BACKED: the containers cycle
    * over the LOSSLESS pair (PNG/BMP) only, so every decoded raster is the
    * planted cycled-text bytes and a DuckDB oracle replays the whole
    * pipeline — aHash bits, chunk buckets, candidate join, best-match
    * argmin — from the documents table (the JPEG decode→aHash path stays
    * covered by StreamingSpec's committed 64-bit pin over a real
    * encodeJpeg container; an image DEDUP pass hashing lossy re-encodes
    * would be measuring codec noise anyway). */
  def phashPairs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // media dims AND container format derive from CONTENT (not doc_id) so
    // duplicate text makes byte-identical files — the property image dedup
    // actually relies on; both lossless parsers are exercised across the corpus
    val media = Tables.spread(docs, "doc_id") // spread the CPU-bound per-row encode+hash
      .select(col("doc_id").cast("long"), col("text"), col("n_chars").cast("long"))
      .as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        // selector = nChars % 2: format choice derives from CONTENT, and the
        // modulus keeps it inside {png, bmp} — the lossless containers
        makeImageRow(id, selector = nChars % 2, (nChars % 64 + 16).toInt, (nChars % 48 + 16).toInt, text)
      }
    val hashes = perceptualHash(media).toDF()
    val chunked = hashes.select(
      col("doc_id"), col("phash"),
      explode(array((0 until 4).map { ci =>
        struct(lit(ci).as("chunk"),
          shiftright(col("phash"), ci * 16).bitwiseAND(lit(0xffffL)).as("ckey"))
      }: _*)).as("cc"))
      .select(col("doc_id"), col("phash"), col("cc.chunk"), col("cc.ckey"))
    val a = chunked.select(col("chunk"), col("ckey"), col("doc_id").as("doc_a"), col("phash").as("ph_a"))
    val b = chunked.select(col("chunk"), col("ckey"), col("doc_id").as("doc_b"), col("phash").as("ph_b"))
    val perDoc = a.join(b, Seq("chunk", "ckey"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ph_a"), col("ph_b"))
      .distinct()
      .withColumn("hamming", graft.functions.text.hamming64(col("ph_a"), col("ph_b")))
      .groupBy(col("doc_a").as("doc_id"))
      .agg(
        count(lit(1)).as("n_candidates"),
        min_by(struct(col("doc_b"), col("hamming")),
          struct(col("hamming"), col("doc_b"))).as("best"))
      .select(col("doc_id"), col("n_candidates"),
        col("best.doc_b").as("best_match"), col("best.hamming").cast("long").as("best_hamming"))
    hashes.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("phash"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_match"), col("best_hamming"))
  }
}
