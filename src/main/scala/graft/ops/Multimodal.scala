package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for a training-data pipeline: media
  * payloads travel as opaque `binary` columns next to a typed metadata
  * struct, and per-item decode/feature work runs partition-parallel over
  * the binary bytes.
  *
  * Image and audio decode are REAL: [[decodeImages]] reads
  * PNG/JPEG/GIF/BMP geometry with `javax.imageio`, [[decodeAudio]]
  * reads WAV/AIFF/AU container metadata with `javax.sound.sampled`
  * (both ship with the JDK — no external dependency), and
  * [[decodeVideo]] reads MP4/AVI container metadata (geometry,
  * duration, codec fourcc, frame count) by direct byte parsing of the
  * box/RIFF structure — the JDK ships no video codec, so frame-pixel
  * decode is out of scope, but everything a curation pipeline filters
  * on lives in the header. All run inside the mapPartitions batch
  * contract. Bytes that no
  * installed reader accepts (text payloads, corrupt files, truncated
  * streams) become QUARANTINE rows (`status = 'undecodable'`), never
  * task failures — at 100 TB a single bad file must not kill a stage.
  *
  * Scale notes: decode is embarrassingly parallel (mapPartitions, no
  * shuffle); feature hashes are codegen'd column exprs; nothing ever
  * collects media bytes to the driver.
  */
object Multimodal {

  /** The multimodal envelope: payload + typed metadata. */
  final case class MediaItem(doc_id: Long, content: Array[Byte], mime: String)

  /** Real decode result: geometry when an ImageIO reader accepted the
    * bytes, a quarantine row (`status = "undecodable"`, zero geometry)
    * when none did. */
  final case class DecodedImage(doc_id: Long, n_bytes: Long, status: String, width: Int, height: Int)

  /** Wrap a documents table into the envelope: the utf-8 bytes of
    * `text` stand in for real media bytes (fixtures carry no images);
    * schema and downstream plumbing are what a binary media column
    * would use unchanged.
    */
  def envelope(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("content"),
      struct(
        lit("text/plain").as("mime"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes")
      ).as("meta"))

  /** REAL image decode over the envelope, `javax.imageio`: one
    * iterator per partition, bytes never leave the executor, no
    * shuffle. Every input row yields exactly one output row —
    * undecodable payloads (no registered reader, corrupt or truncated
    * bytes) are quarantined as `status = 'undecodable'` with zero
    * geometry instead of failing the task, so a poisoned file in a
    * 100 TB corpus costs one row, not a stage retry loop. The
    * in-memory `ByteArrayInputStream` + `setUseCache(false)` keep
    * ImageIO off executor-local disk (its default scratch cache).
    */
  def decodeImages(env: DataFrame)(implicit spark: SparkSession): Dataset[DecodedImage] = {
    import spark.implicits._
    env.select(col("doc_id"), col("content"), col("meta.mime").as("mime"))
      .as[MediaItem]
      .mapPartitions { items =>
        javax.imageio.ImageIO.setUseCache(false)
        items.map { it =>
          val n = it.content.length.toLong
          try {
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(it.content))
            if (img == null) DecodedImage(it.doc_id, n, "undecodable", 0, 0)
            else DecodedImage(it.doc_id, n, "decoded", img.getWidth, img.getHeight)
          } catch {
            case scala.util.control.NonFatal(_) =>
              DecodedImage(it.doc_id, n, "undecodable", 0, 0)
          }
        }
      }
  }

  /** Real decode result for audio payloads: container-level metadata
    * when a registered reader accepted the bytes, a quarantine row
    * otherwise. `frames` is the frame count the container declares
    * (-1 in the header maps to -1 here — streams of unknown length
    * are a real shape, not an error). */
  final case class DecodedAudio(doc_id: Long, n_bytes: Long, status: String,
      encoding: String, sample_rate: Double, channels: Int, frames: Long)

  /** REAL audio decode over the envelope, `javax.sound.sampled`
    * (ships with the JDK: WAV/AIFF/AU readers): encoding, sample
    * rate, channel count, and declared frame length per payload. Same
    * contract as [[decodeImages]] — one output row per input row,
    * bytes never leave the executor, undecodable payloads quarantine
    * (`status = 'undecodable'`) instead of failing the task. Header
    * parsing only: the PCM body is not decompressed, so cost per item
    * is O(header), not O(bytes) — the same stance [[decodeVideo]]
    * takes for MP4/AVI.
    */
  def decodeAudio(env: DataFrame)(implicit spark: SparkSession): Dataset[DecodedAudio] = {
    import spark.implicits._
    env.select(col("doc_id"), col("content"), col("meta.mime").as("mime"))
      .as[MediaItem]
      .mapPartitions { items =>
        items.map { it =>
          val n = it.content.length.toLong
          try {
            val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
              new java.io.ByteArrayInputStream(it.content))
            val f = aff.getFormat
            DecodedAudio(it.doc_id, n, "decoded", f.getEncoding.toString,
              f.getSampleRate.toDouble, f.getChannels, aff.getFrameLength.toLong)
          } catch {
            case scala.util.control.NonFatal(_) =>
              DecodedAudio(it.doc_id, n, "undecodable", "", 0.0, 0, 0L)
          }
        }
      }
  }

  /** Real video decode result: container-level metadata when the bytes
    * parsed as an MP4 (ISO BMFF) or AVI (RIFF) container, a quarantine
    * row otherwise. `duration_s` is the header-declared duration;
    * `n_frames` is the declared sample/frame count (-1 when the
    * container does not declare one — a real shape, not an error). */
  final case class DecodedVideo(doc_id: Long, n_bytes: Long, status: String,
      container: String, codec: String, width: Int, height: Int,
      duration_s: Double, n_frames: Long)

  /** REAL video container metadata over the envelope — plain byte
    * parsing of the two dominant container layouts, no codec library
    * (the JDK ships none; full frame DECODE stays out of reach without
    * new dependencies, but geometry/duration/codec-fourcc — the fields
    * a curation pipeline filters on — live in the container header,
    * the same O(header) stance as [[decodeAudio]]):
    *
    *  - MP4/ISO-BMFF: box walk to `moov/mvhd` (timescale+duration) and
    *    the `vide`-handler trak's `tkhd` (16.16 fixed-point geometry),
    *    `stbl/stsd` (codec fourcc), `stbl/stts` (sample count).
    *  - AVI/RIFF: `hdrl/avih` (frame timing, total frames, geometry)
    *    and the `vids` stream's `strh` handler fourcc.
    *
    * Same contract as [[decodeImages]]: one output row per input row,
    * bytes never leave the executor, no shuffle, and bytes that parse
    * as neither container — text payloads, corrupt or truncated
    * streams, box sizes walking out of bounds — quarantine
    * (`status = 'undecodable'`) instead of failing the task.
    */
  def decodeVideo(env: DataFrame)(implicit spark: SparkSession): Dataset[DecodedVideo] = {
    import spark.implicits._
    env.select(col("doc_id"), col("content"), col("meta.mime").as("mime"))
      .as[MediaItem]
      .mapPartitions { items =>
        items.map { it =>
          val n = it.content.length.toLong
          VideoContainers.parse(it.content) match {
            case Some(v) => DecodedVideo(it.doc_id, n, "decoded", v.container,
              v.codec, v.width, v.height, v.durationS, v.nFrames)
            case None => DecodedVideo(it.doc_id, n, "undecodable", "", "", 0, 0, 0.0, 0L)
          }
        }
      }
  }

  /** Perceptual-hash row: 64-bit aHash (mean-threshold over an 8×8
    * block-average luminance grid) and dHash (horizontal gradient over
    * a 9×8 grid) when an ImageIO reader accepted the bytes; a
    * quarantine row (zero hashes/geometry) otherwise. */
  final case class ImagePhash(doc_id: Long, n_bytes: Long, status: String,
      width: Int, height: Int, ahash: Long, dhash: Long)

  /** REAL image perceptual hashing — the multimodal face of near-dup
    * detection: re-encoded, resized, or slightly-edited copies of an
    * image keep (near-)identical perceptual hashes while their raw
    * bytes (and so [[features]]' `content_md5`) differ completely.
    * Decode is [[decodeImages]]' `javax.imageio` path under the same
    * quarantine contract; the downscale is a MANUAL block-average over
    * `getRGB` (no `Graphics2D.drawImage`, whose interpolation is
    * platform/hint dependent — block means over integer pixel grids
    * are bit-deterministic everywhere). Luminance is integer BT.601
    * (299r + 587g + 114b, no floats), aHash bit = cell > mean (ties
    * low), dHash bit = right neighbor > left, both packed row-major
    * MSB-first.
    *
    * Scale shape: mapPartitions over the envelope, bytes never leave
    * the executor, no shuffle; downstream grouping/pairing touches only
    * (doc_id, 2×long). Pair via [[imageDupPairs]].
    */
  def imagePhash(env: DataFrame)(implicit spark: SparkSession): Dataset[ImagePhash] = {
    import spark.implicits._
    env.select(col("doc_id"), col("content"), col("meta.mime").as("mime"))
      .as[MediaItem]
      .mapPartitions { items =>
        javax.imageio.ImageIO.setUseCache(false)
        items.map { it =>
          val n = it.content.length.toLong
          try {
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(it.content))
            if (img == null) ImagePhash(it.doc_id, n, "undecodable", 0, 0, 0L, 0L)
            else {
              // block-average luminance grid, rows x cols, integer math
              def grid(rows: Int, cols: Int): Array[Array[Long]] = {
                val (w, h) = (img.getWidth, img.getHeight)
                Array.tabulate(rows, cols) { (r, c) =>
                  val x0 = c * w / cols; val x1 = math.max(x0 + 1, (c + 1) * w / cols)
                  val y0 = r * h / rows; val y1 = math.max(y0 + 1, (r + 1) * h / rows)
                  var sum = 0L; var cnt = 0L
                  var y = y0
                  while (y < h && y < y1) {
                    var x = x0
                    while (x < w && x < x1) {
                      val rgb = img.getRGB(x, y)
                      sum += 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
                        114L * (rgb & 0xff)
                      cnt += 1; x += 1
                    }
                    y += 1
                  }
                  if (cnt == 0) 0L else sum / cnt
                }
              }
              val a = grid(8, 8)
              val mean = a.flatten.sum / 64
              var ahash = 0L
              var i = 0
              while (i < 64) {
                if (a(i / 8)(i % 8) > mean) ahash |= (1L << (63 - i)); i += 1
              }
              val d = grid(8, 9)
              var dhash = 0L
              i = 0
              while (i < 64) {
                val r = i / 8; val c = i % 8
                if (d(r)(c + 1) > d(r)(c)) dhash |= (1L << (63 - i)); i += 1
              }
              ImagePhash(it.doc_id, n, "decoded", img.getWidth, img.getHeight, ahash, dhash)
            }
          } catch {
            case scala.util.control.NonFatal(_) =>
              ImagePhash(it.doc_id, n, "undecodable", 0, 0, 0L, 0L)
          }
        }
      }
  }

  /** Image near-dup pairs: Hamming-near dHashes via the SAME
    * segment-blocked machinery text SimHash uses
    * ([[Dedup.hammingPairs]] — perfect recall at ≤ maxHamming by
    * pigeonhole, bucket join, no all-pairs). Quarantined rows never
    * pair (their zero hash carries no signal — the [[Dedup.simhash]]
    * empty-doc rule). Emits `(doc_a, doc_b, hamming)`.
    */
  def imageDupPairs(
      phashes: DataFrame,
      maxHamming: Int = 3): DataFrame =
    Dedup.hammingPairs(
      phashes.filter(col("status") === "decoded")
        .select(col("doc_id"), col("dhash").as("sig")),
      bits = 64, maxHamming = maxHamming)

  /** Column-layer content features over the envelope: md5 of the raw
    * bytes (dedup key for media), byte length. Pure codegen'd exprs. */
  def features(env: DataFrame): DataFrame =
    env.select(
      col("doc_id"),
      col("meta.mime").as("mime"),
      col("meta.n_bytes").as("n_bytes"),
      md5(col("content")).as("content_md5"))

  /** The full pipeline as one query: envelope → REAL decode →
    * features, joined on doc_id (both sides partition-local over the
    * same scan). Text payloads surface as quarantine rows — the
    * failure path is part of the contract and of the oracle. */
  def mediaSummary(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val env = envelope(docs)
    decodeImages(env).toDF()
      .join(features(env).drop("n_bytes"), "doc_id")
      .select("doc_id", "mime", "n_bytes", "status", "width", "height", "content_md5")
  }
}

/** Byte-level parsers for the two dominant video container layouts —
  * header metadata only, no codec. Every read is bounds-checked; any
  * walk that leaves the buffer returns None (the quarantine signal),
  * never throws on adversarial bytes.
  */
private[graft] object VideoContainers {

  final case class Info(container: String, codec: String, width: Int,
      height: Int, durationS: Double, nFrames: Long)

  def parse(b: Array[Byte]): Option[Info] =
    try parseMp4(b).orElse(parseAvi(b))
    catch { case scala.util.control.NonFatal(_) => None }

  // ---- primitive readers (None on out-of-bounds) ------------------------
  private def be32(b: Array[Byte], o: Int): Option[Long] =
    if (o < 0 || o + 4 > b.length) None
    else Some(((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL))
  private def be64(b: Array[Byte], o: Int): Option[Long] =
    for (h <- be32(b, o); l <- be32(b, o + 4)) yield (h << 32) | l
  private def le32(b: Array[Byte], o: Int): Option[Long] =
    if (o < 0 || o + 4 > b.length) None
    else Some(((b(o + 3) & 0xffL) << 24) | ((b(o + 2) & 0xffL) << 16) |
      ((b(o + 1) & 0xffL) << 8) | (b(o) & 0xffL))
  private def cc(b: Array[Byte], o: Int): Option[String] =
    if (o < 0 || o + 4 > b.length) None
    else Some(new String(b, o, 4, java.nio.charset.StandardCharsets.ISO_8859_1))

  // ---- MP4 / ISO base media file format ---------------------------------

  /** Children of the byte range [from, to) as (type, contentStart,
    * contentEnd); walk stops cleanly at the first malformed box. */
  private def mp4Children(b: Array[Byte], from: Int, to: Int): Seq[(String, Int, Int)] = {
    val out = Seq.newBuilder[(String, Int, Int)]
    var off = from
    var ok = true
    while (ok && off + 8 <= to) {
      (be32(b, off), cc(b, off + 4)) match {
        case (Some(sz32), Some(name)) =>
          // size semantics: 1 -> 64-bit largesize follows; 0 -> to end
          val (size, hdr) =
            if (sz32 == 1L) (be64(b, off + 8).getOrElse(-1L), 16)
            else if (sz32 == 0L) ((to - off).toLong, 8)
            else (sz32, 8)
          if (size < hdr || off + size > to || size > Int.MaxValue) ok = false
          else {
            out += ((name, off + hdr, off + size.toInt))
            off += size.toInt
          }
        case _ => ok = false
      }
    }
    out.result()
  }

  private def findBox(b: Array[Byte], from: Int, to: Int, name: String): Option[(Int, Int)] =
    mp4Children(b, from, to).collectFirst { case (`name`, s, e) => (s, e) }

  private def parseMp4(b: Array[Byte]): Option[Info] = {
    val top = mp4Children(b, 0, b.length)
    // a real BMFF stream leads with a recognizable top-level box — the
    // cheap reject for text/garbage whose first 8 bytes happen to chain
    val known = Set("ftyp", "styp", "moov", "moof", "mdat", "free",
      "skip", "wide", "pdin", "sidx", "uuid", "meta")
    if (top.isEmpty || !known.contains(top.head._1)) return None
    val (ms, me) = top.collectFirst { case ("moov", s, e) => (s, e) }.getOrElse(return None)
    // movie header: global timescale + duration
    val (hs, he) = findBox(b, ms, me, "mvhd").getOrElse(return None)
    val mvhdV = if (hs < b.length) b(hs) & 0xff else return None
    val (tScale, dur) =
      if (mvhdV == 1) (be32(b, hs + 20), be64(b, hs + 24))
      else (be32(b, hs + 12), be32(b, hs + 16).map(_.toLong))
    val durationS = (for (ts <- tScale; d <- dur; if ts > 0) yield d.toDouble / ts).getOrElse(0.0)
    if (he < hs) return None
    // the video track: first trak whose mdia/hdlr handler is 'vide'
    // (fallback: first trak at all, for audio-only or exotic streams)
    val traks = mp4Children(b, ms, me).collect { case ("trak", s, e) => (s, e) }
    def handler(ts: Int, te: Int): Option[String] =
      for {
        (ds, de) <- findBox(b, ts, te, "mdia")
        (is, _) <- findBox(b, ds, de, "hdlr")
        h <- cc(b, is + 8)
      } yield h
    val trak = traks.find { case (s, e) => handler(s, e).contains("vide") }
      .orElse(traks.headOption).getOrElse(return None)
    // track header geometry: 16.16 fixed point at the box tail
    val wh = for {
      (ks, _) <- findBox(b, trak._1, trak._2, "tkhd")
      v = b(ks) & 0xff
      base = if (v == 1) ks + 88 else ks + 76
      w <- be32(b, base)
      h <- be32(b, base + 4)
    } yield ((w >> 16).toInt, (h >> 16).toInt)
    val (w, h) = wh.getOrElse((0, 0))
    // codec fourcc (stsd first entry) + declared sample count (stts)
    val stbl = for {
      (ds, de) <- findBox(b, trak._1, trak._2, "mdia")
      (is, ie) <- findBox(b, ds, de, "minf")
      (ss, se) <- findBox(b, is, ie, "stbl")
    } yield (ss, se)
    val codec = stbl.flatMap { case (ss, se) =>
      findBox(b, ss, se, "stsd").flatMap { case (s, _) => cc(b, s + 12) }
    }.getOrElse("")
    val nFrames = stbl.flatMap { case (ss, se) =>
      findBox(b, ss, se, "stts").flatMap { case (s, _) =>
        be32(b, s + 4).map { entries =>
          var total = 0L
          var i = 0L
          while (i < entries) {
            total += be32(b, s + 8 + (i * 8).toInt).getOrElse(0L)
            i += 1
          }
          total
        }
      }
    }.getOrElse(-1L)
    Some(Info("mp4", codec.trim, w, h, durationS, nFrames))
  }

  // ---- AVI / RIFF -------------------------------------------------------

  /** RIFF children of [from, to) as (id, listType-or-"", contentStart,
    * contentEnd); chunks are word-aligned (odd sizes pad one byte). */
  private def riffChildren(b: Array[Byte], from: Int, to: Int): Seq[(String, String, Int, Int)] = {
    val out = Seq.newBuilder[(String, String, Int, Int)]
    var off = from
    var ok = true
    while (ok && off + 8 <= to) {
      (cc(b, off), le32(b, off + 8 - 4)) match {
        case (Some(id), Some(sz)) =>
          val end = off + 8 + sz
          if (sz < 0 || end > to) ok = false
          else {
            if (id == "LIST" && sz >= 4)
              out += ((id, cc(b, off + 8).getOrElse(""), off + 12, end.toInt))
            else out += ((id, "", off + 8, end.toInt))
            off = (end + (sz & 1L)).toInt // word alignment
          }
        case _ => ok = false
      }
    }
    out.result()
  }

  private def parseAvi(b: Array[Byte]): Option[Info] = {
    if (!cc(b, 0).contains("RIFF") || !cc(b, 8).contains("AVI ")) return None
    val end = le32(b, 4).map(sz => math.min(b.length.toLong, 8L + sz).toInt).getOrElse(b.length)
    val hdrl = riffChildren(b, 12, end)
      .collectFirst { case ("LIST", "hdrl", s, e) => (s, e) }.getOrElse(return None)
    val avih = riffChildren(b, hdrl._1, hdrl._2)
      .collectFirst { case ("avih", _, s, e) => (s, e) }.getOrElse(return None)
    val info = for {
      usPerFrame <- le32(b, avih._1)
      totalFrames <- le32(b, avih._1 + 16)
      w <- le32(b, avih._1 + 32)
      h <- le32(b, avih._1 + 36)
    } yield {
      // the video stream's handler fourcc: strl list whose strh is 'vids'
      val codec = riffChildren(b, hdrl._1, hdrl._2)
        .collect { case ("LIST", "strl", s, e) => (s, e) }
        .flatMap { case (s, e) => riffChildren(b, s, e)
          .collectFirst { case ("strh", _, cs, _) => cs } }
        .collectFirst {
          case cs if cc(b, cs).contains("vids") => cc(b, cs + 4).getOrElse("")
        }.getOrElse("")
      Info("avi", codec.trim, w.toInt, h.toInt,
        totalFrames.toDouble * usPerFrame / 1e6, totalFrames)
    }
    info
  }
}
