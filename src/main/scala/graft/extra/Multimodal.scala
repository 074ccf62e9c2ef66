package graft.extra

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling for training-data pipelines: media as opaque
  * `binary` columns with typed metadata, plus decode / feature-extract /
  * frame-sample operators. (LLM-pipeline extras per BASELINE.json; not in
  * the danae reference surface.)
  *
  * The Spark-side plumbing — schema, batched per-partition execution,
  * deterministic output shape — is real and tested. Decoding is a pluggable
  * [[Multimodal.DecodeWorker]], and all three modalities decode REAL
  * content with zero external dependencies: [[Multimodal.ImageIoWorker]]
  * (JDK javax.imageio, PNG/JPEG/GIF/BMP), [[Multimodal.WavStatsWorker]]
  * (JDK javax.sound.sampled, WAV/AIFF/AU), [[Multimodal.Mp4MetadataWorker]]
  * (pure ISO-BMFF box walking for MP4 container metadata) and
  * [[Multimodal.AviMjpegWorker]] (RIFF/AVI walker + per-frame JPEG decode
  * for MJPEG video FRAMES). [[Multimodal.ByteStatsWorker]] remains only as
  * the generic fallback for codecs outside the JDK (H.264 etc.); swapping
  * workers (JavaCV, TwelveMonkeys, a Python `mapInPandas` process, …)
  * changes no plan.
  *
  * Scale notes: all operators are per-row/per-partition (no shuffle); media
  * bytes never leave the executor that read them, and feature extraction is
  * batched per partition exactly like an Arrow-batched pandas UDF would be.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = true),
    StructField("media_type", StringType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("n_bytes", LongType, nullable = true))), nullable = true)))

  /** Synthesize a media table from the documents fixture: text bytes stand in
    * for an encoded payload; metadata is derived deterministically.
    */
  def synthesize(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("media"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      struct(
        (pmod(col("doc_id"), lit(8)) * 64 + 256).cast("int").as("width"),
        (pmod(col("doc_id"), lit(6)) * 64 + 256).cast("int").as("height"),
        (length(col("text")) * 40L).cast("long").as("duration_ms"),
        length(col("text")).cast("long").as("n_bytes")).as("meta"))

  /** REAL encoded media synthesized from the documents fixture — the
    * encoded twin of [[synthesize]]: payloads are actual PNG / WAV /
    * MJPEG-AVI bytes (JDK encoders only, no external codecs) whose CONTENT
    * derives from robust per-document text statistics (length and
    * vowel/digit/space ratios — features that move only slightly under the
    * small edits that make two documents near-duplicates). Documents with
    * near-identical text therefore produce near-identical media, which is
    * exactly the multimodal near-dup structure a training pipeline hunts
    * with [[mediaNearDupPairs]]. Deterministic per row (JDK encoders are
    * deterministic functions of the pixel/sample content), per-row only —
    * no shuffle, payloads are born on the executor that keeps them.
    *
    * Modality routing matches [[synthesize]]: doc_id % 3 = 0 → image,
    * 1 → audio, 2 → video. Payload shapes (all deliberately small — the
    * operator under test is the decode/feature path, not codec
    * throughput): PNG whose width/height carry the length statistic and
    * whose solid fill carries the ratios; WAV whose sample count carries
    * length and whose two-amplitude sine carries two ratios through
    * rms/peak; two-frame MJPEG AVI whose frame colors carry the ratios and
    * whose frame size carries length.
    */
  def synthesizeEncoded(docs: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    docs.select(col("doc_id"), col("text")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val text = if (r.isNullAt(1)) "" else r.getString(1)
        // Content statistics over the DISTINCT token set: invariant under
        // token repetition and shuffling (the edits that make two fixture
        // documents near-duplicates), and SMOOTH under small set edits —
        // so a text near-dup pair synthesizes into a media near-dup pair.
        // Capped-linear shape mappings, never modular: a one-token edit
        // must move the decoded shape by at most a pixel/sample, not
        // teleport it across feature space.
        val toks = text.toLowerCase.split(' ').filter(_.nonEmpty).distinct
        val u = math.max(1, toks.length)            // distinct-token count
        var chars = 0; var vowels = 0; var longTok = 0
        toks.foreach { t =>
          chars += t.length
          if (t.length >= 6) longTok += 1
          t.foreach(ch => if ("aeiou".indexOf(ch.toInt) >= 0) vowels += 1)
        }
        val al = chars.toFloat / u                   // avg token length
        val vr = vowels.toFloat / math.max(1, chars) // vowel ratio
        val lr = longTok.toFloat / u                 // long-token ratio
        val uf = math.min(u, 32) / 32.0f             // count fraction
        (id % 3) match {
          case 0 =>
            val w = 24 + math.min(15, u / 2)
            val h = 16 + math.round(math.min(11.0f, (al - 3) * 4))
            val png = encodePng(w, h, packRgb(vr, lr, al / 8))
            Row(id, png, "image", Row(w, h, null, png.length.toLong))
          case 1 =>
            val nS = 400 + math.min(399, u * 12)
            val wav = encodeWav(nS, 220.0 + 10.0 * u,
              0.1 + 0.8 * vr, 0.1 + 0.8 * lr)
            Row(id, wav, "audio", Row(null, null, nS / 8L, wav.length.toLong))
          case _ =>
            val w = 16 + 2 * math.min(7, u / 4)
            // floor at 2: al < 1.25 (near-all 1-char tokens, or the empty
            // doc where al = 0) would otherwise drive h ≤ 0 and
            // BufferedImage throws — the image branch's own floor is 4
            val h = math.max(2,
              8 + 2 * math.round(math.min(5.0f, (al - 3) * 2)))
            val avi = encodeAviMjpeg(w, h,
              Seq(packRgb(vr, lr, al / 8), packRgb(uf, vr, lr)))
            Row(id, avi, "video", Row(w, h, 80L, avi.length.toLong))
        }
      }
    }(enc)
  }

  private def packRgb(r: Float, g: Float, b: Float): Int = {
    def c(v: Float): Int = math.max(0, math.min(255, math.round(v * 255)))
    (c(r) << 16) | (c(g) << 8) | c(b)
  }

  /** One solid-fill PNG through the JDK's own encoder. */
  private[graft] def encodePng(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** A 16-bit PCM mono 8 kHz WAV through the JDK's own encoder: a sine at
    * `freq` whose first half plays at `amp1` and second half at `amp2` —
    * two independent statistics survive decode as (rms, peak).
    */
  private[graft] def encodeWav(nSamples: Int, freq: Double,
                               amp1: Double, amp2: Double): Array[Byte] = {
    val rate = 8000
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val amp = if (i < nSamples / 2) amp1 else amp2
      val v = (math.sin(2 * math.Pi * freq * i / rate) * amp * 32767).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** A minimal MJPEG-in-AVI container (RIFF('AVI ' LIST('hdrl' avih)
    * LIST('movi' 00dc…))) holding one solid-fill JDK-encoded JPEG per
    * entry of `frameColors`, 25 fps — the little-endian writer twin of
    * [[AviMjpegWorker]]'s walker.
    */
  private[graft] def encodeAviMjpeg(w: Int, h: Int,
                                    frameColors: Seq[Int]): Array[Byte] = {
    def jpeg(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val pad = if (payload.length % 2 == 1) Array(0.toByte)
                else Array.empty[Byte]
      id.getBytes("ISO-8859-1") ++ le32(payload.length.toLong) ++ payload ++ pad
    }
    def list(typ: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("ISO-8859-1") ++ children)
    val avih = chunk("avih", le32(40000L) ++ le32(0L) ++ le32(0L) ++ le32(0L) ++
      le32(frameColors.size.toLong) ++ new Array[Byte](36))
    val movi = list("movi",
      frameColors.map(c => chunk("00dc", jpeg(c))).reduce(_ ++ _))
    val body = "AVI ".getBytes("ISO-8859-1") ++ list("hdrl", avih) ++ movi
    "RIFF".getBytes("ISO-8859-1") ++ le32(body.length.toLong) ++ body
  }

  /** The decode-worker contract: the ONLY pluggable piece of the multimodal
    * pipeline. A worker turns one encoded payload into a fixed-width feature
    * vector; [[extractFeatures]] drives it batched per partition (the Scala
    * analogue of an Arrow-batched `mapInPandas` worker — swap in a Python
    * codec process, JavaCV, TwelveMonkeys, … without touching any plan).
    * Implementations must be Serializable (they ship to executors once and
    * are reused across the partition's rows — per-worker init like codec
    * handles belongs in lazy vals).
    */
  trait DecodeWorker extends Serializable {
    def dim: Int
    /** Decode one payload; must handle null/empty/corrupt bytes. */
    def decode(bytes: Array[Byte]): Array[Float]
  }

  /** STUB worker: deterministic pseudo-features from raw bytes (rolling byte
    * statistics per stripe). The placeholder for codecs this container lacks.
    */
  final case class ByteStatsWorker(dim: Int = 16) extends DecodeWorker {
    def decode(bytes: Array[Byte]): Array[Float] = {
      if (bytes == null || bytes.isEmpty) return new Array[Float](dim)
      val out = new Array[Float](dim)
      var i = 0
      while (i < bytes.length) {
        val d = i % dim
        out(d) += (bytes(i) & 0xff) / 255.0f
        i += 1
      }
      val stripe = math.max(1, bytes.length / dim)
      var d = 0
      while (d < dim) { out(d) = out(d) / stripe; d += 1 }
      out
    }
  }

  /** REAL image worker via the JDK's javax.imageio (PNG/JPEG/GIF/BMP — no
    * external codecs needed): features are [width, height, meanR, meanG,
    * meanB] (means in [0,1]) zero-padded to `dim`; non-decodable payloads
    * yield the zero vector. Proves the [[DecodeWorker]] boundary is
    * swappable with an actual codec.
    */
  final case class ImageIoWorker(dim: Int = 16) extends DecodeWorker {
    require(dim >= 5, "ImageIoWorker needs dim >= 5")
    def decode(bytes: Array[Byte]): Array[Float] = {
      val out = new Array[Float](dim)
      if (bytes == null || bytes.isEmpty) return out
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case _: Exception => null }
      if (img == null) return out
      val (w, h) = (img.getWidth, img.getHeight)
      var r = 0L; var g = 0L; var b = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
          x += 1
        }
        y += 1
      }
      val n = (w.toLong * h * 255).toFloat
      out(0) = w.toFloat; out(1) = h.toFloat
      out(2) = r / n; out(3) = g / n; out(4) = b / n
      out
    }
  }

  /** REAL audio worker via the JDK's javax.sound.sampled (WAV/AIFF/AU — no
    * external codecs needed): features are [duration_sec, sample_rate,
    * channels, rms, peak, n_samples] (rms/peak over amplitude-normalized
    * samples in [-1,1]) zero-padded to `dim`; non-decodable payloads yield
    * the zero vector. With [[ImageIoWorker]] this proves the
    * [[DecodeWorker]] boundary on a second modality; only video still rides
    * the [[ByteStatsWorker]] stub (no JDK video codec exists).
    */
  final case class WavStatsWorker(dim: Int = 16) extends DecodeWorker {
    require(dim >= 6, "WavStatsWorker needs dim >= 6")
    def decode(bytes: Array[Byte]): Array[Float] = {
      val out = new Array[Float](dim)
      if (bytes == null || bytes.isEmpty) return out
      val ais =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        catch { case _: Exception => return out }
      try {
        val fmt = ais.getFormat
        val data = ais.readAllBytes()
        var sumSq = 0.0; var peak = 0.0; var n = 0L
        fmt.getSampleSizeInBits match {
          case 16 =>
            val big = fmt.isBigEndian
            var i = 0
            while (i + 1 < data.length) {
              val s = if (big) ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
                      else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
              val v = s / 32768.0
              sumSq += v * v; if (math.abs(v) > peak) peak = math.abs(v)
              n += 1; i += 2
            }
          case 8 =>
            // 8-bit WAV is unsigned PCM centered at 128 (AU/AIFF use signed)
            val signed =
              fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
            var i = 0
            while (i < data.length) {
              val v = if (signed) data(i) / 128.0
                      else ((data(i) & 0xff) - 128) / 128.0
              sumSq += v * v; if (math.abs(v) > peak) peak = math.abs(v)
              n += 1; i += 1
            }
          case _ => return out
        }
        out(0) =
          if (fmt.getSampleRate > 0 && fmt.getChannels > 0)
            (n.toDouble / fmt.getChannels / fmt.getSampleRate).toFloat
          else 0f
        out(1) = fmt.getSampleRate
        out(2) = fmt.getChannels.toFloat
        out(3) = if (n > 0) math.sqrt(sumSq / n).toFloat else 0f
        out(4) = peak.toFloat
        out(5) = n.toFloat
        out
      } catch { case _: Exception => new Array[Float](dim) }
      finally ais.close()
    }
  }

  /** REAL MP4 / ISO-BMFF container parser — pure byte-box walking, no codec
    * needed: features are [duration_s, n_tracks, width_px, height_px, ok=1]
    * zero-padded to `dim`, from the moov/mvhd header (timescale +
    * duration, version 0 and 1) and the first video trak's tkhd (16.16
    * fixed-point presentation size). Un-parseable payloads yield the zero
    * vector. This makes the VIDEO modality's container half real — the
    * duration/track/shape fields corpus gates actually filter on — while
    * FRAME decode stays with the declared [[ByteStatsWorker]] stub (the
    * JDK ships no video codec).
    */
  final case class Mp4MetadataWorker(dim: Int = 16) extends DecodeWorker {
    require(dim >= 5, "Mp4MetadataWorker needs dim >= 5")
    private def u32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    private def u64(b: Array[Byte], o: Int): Long =
      (u32(b, o) << 32) | u32(b, o + 4)
    def decode(bytes: Array[Byte]): Array[Float] = {
      val out = new Array[Float](dim)
      if (bytes == null || bytes.length < 8) return out
      try {
        var durS = 0f; var nTracks = 0; var w = 0f; var h = 0f; var ok = false
        // walk one level of boxes in [from, to); size 0 = to-end, size 1 =
        // 64-bit largesize; malformed sizes stop the walk (never throw)
        def boxes(from: Int, to: Int)(f: (String, Int, Int) => Unit): Unit = {
          var off = from
          var go = true
          while (go && off + 8 <= to) {
            var size = u32(bytes, off)
            var hdr = 8
            if (size == 1 && off + 16 <= to) { size = u64(bytes, off + 8); hdr = 16 }
            else if (size == 0) size = (to - off).toLong
            if (size < hdr || size > to - off) go = false
            else {
              f(new String(bytes, off + 4, 4, "ISO-8859-1"),
                off + hdr, off + size.toInt)
              off += size.toInt
            }
          }
        }
        boxes(0, bytes.length) {
          case ("moov", ms, me) =>
            boxes(ms, me) {
              case ("mvhd", s, e) =>
                val v = bytes(s) & 0xff
                if (v == 0 && e - s >= 20) {
                  val ts = u32(bytes, s + 12)
                  if (ts > 0) { durS = (u32(bytes, s + 16).toDouble / ts).toFloat; ok = true }
                } else if (v == 1 && e - s >= 32) {
                  val ts = u32(bytes, s + 20)
                  if (ts > 0) { durS = (u64(bytes, s + 24).toDouble / ts).toFloat; ok = true }
                }
              case ("trak", s, e) =>
                nTracks += 1
                boxes(s, e) {
                  case ("tkhd", ts, te) =>
                    val v = bytes(ts) & 0xff
                    val wOff = if (v == 1) ts + 88 else ts + 76
                    if (te - ts >= (wOff - ts) + 8 && w == 0f && h == 0f) {
                      val tw = (u32(bytes, wOff) >> 16).toFloat
                      val th = (u32(bytes, wOff + 4) >> 16).toFloat
                      if (tw > 0 && th > 0) { w = tw; h = th }
                    }
                  case _ => ()
                }
              case _ => ()
            }
          case _ => ()
        }
        if (!ok && nTracks == 0) return out
        out(0) = durS; out(1) = nTracks.toFloat; out(2) = w; out(3) = h
        out(4) = 1f
        out
      } catch { case _: Exception => new Array[Float](dim) }
    }
  }

  /** REAL video FRAME decoder for MJPEG-in-AVI — the one video format a
    * bare JDK can fully decode: a hand-rolled RIFF/AVI walker (the
    * little-endian twin of [[Mp4MetadataWorker]]'s box walker) locates the
    * `movi` list's `##dc`/`##db` video frame chunks, and each sampled frame
    * decodes through javax.imageio (MJPEG frames are baseline JPEGs).
    * Features are [duration_s, n_frames, width_px, height_px, n_decoded,
    * meanR, meanG, meanB] (means in [0,1] across up to `maxFrames` frames
    * sampled evenly) zero-padded to `dim`; un-parseable payloads yield the
    * zero vector. With this, all three media modalities decode REAL
    * content end-to-end; [[ByteStatsWorker]] remains only as the generic
    * fallback for codecs outside the JDK (H.264 and friends need an
    * external worker — swap one in through the same [[DecodeWorker]] seam).
    */
  final case class AviMjpegWorker(dim: Int = 16, maxFrames: Int = 8) extends DecodeWorker {
    require(dim >= 8, "AviMjpegWorker needs dim >= 8")
    private def u32le(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    private def fourcc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, "ISO-8859-1")
    def decode(bytes: Array[Byte]): Array[Float] = {
      val out = new Array[Float](dim)
      if (bytes == null || bytes.length < 12 || fourcc(bytes, 0) != "RIFF" ||
        fourcc(bytes, 8) != "AVI ") return out
      try {
        var usPerFrame = 0L; var totalFrames = 0L
        val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        // walk chunks in [from, to): id(4) size(4 LE) payload, padded to
        // even; a LIST/RIFF payload is a type fourcc + child chunks.
        // Malformed sizes stop the walk (never throw).
        def chunks(from: Int, to: Int): Unit = {
          var off = from
          var go = true
          while (go && off + 8 <= to) {
            val id = fourcc(bytes, off)
            val size = u32le(bytes, off + 4)
            if (size < 0 || size > to - off - 8) go = false
            else {
              val s = off + 8
              val e = s + size.toInt
              if (id == "LIST" && size >= 4) chunks(s + 4, e)
              else if (id == "avih" && size >= 20) {
                usPerFrame = u32le(bytes, s)
                totalFrames = u32le(bytes, s + 16)
              } else if (id.length == 4 && id(0).isDigit && id(1).isDigit &&
                (id.endsWith("dc") || id.endsWith("db")) && size > 0)
                frames += ((s, size.toInt))
              off = e + (size.toInt & 1) // even padding
            }
          }
        }
        chunks(12, bytes.length)
        if (frames.isEmpty) return out
        val picks =
          if (frames.length <= maxFrames) frames.toSeq
          else (0 until maxFrames).map(i =>
            frames((i.toLong * frames.length / maxFrames).toInt))
        var w = 0f; var h = 0f; var decoded = 0
        var r = 0.0; var g = 0.0; var b = 0.0
        picks.foreach { case (s, len) =>
          val img =
            try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes, s, len))
            catch { case _: Exception => null }
          if (img != null) {
            if (decoded == 0) { w = img.getWidth.toFloat; h = img.getHeight.toFloat }
            var rr = 0L; var gg = 0L; var bb = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val p = img.getRGB(x, y)
                rr += (p >> 16) & 0xff; gg += (p >> 8) & 0xff; bb += p & 0xff
                x += 1
              }
              y += 1
            }
            val n = img.getWidth.toLong * img.getHeight * 255
            r += rr.toDouble / n; g += gg.toDouble / n; b += bb.toDouble / n
            decoded += 1
          }
        }
        out(0) = (usPerFrame * totalFrames / 1e6).toFloat
        out(1) = frames.length.toFloat
        out(2) = w; out(3) = h
        out(4) = decoded.toFloat
        if (decoded > 0) {
          out(5) = (r / decoded).toFloat
          out(6) = (g / decoded).toFloat
          out(7) = (b / decoded).toFloat
        }
        out
      } catch { case _: Exception => new Array[Float](dim) }
    }
  }

  /** Batched per-partition feature extraction — one iterator pass per
    * partition, media column in, fixed-width `array<float>` out. The worker
    * is the only varying piece; media bytes never leave the executor.
    */
  def extractFeatures(media: DataFrame, worker: DecodeWorker): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("media_type", StringType, nullable = true),
      StructField("features", ArrayType(FloatType), nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("doc_id", "media_type", "media")
      .mapPartitions { it =>
        it.map { r =>
          val bytes = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
          Row(r.getLong(0), r.getString(1), worker.decode(bytes).toSeq)
        }
      }(enc)
  }

  def extractFeatures(media: DataFrame, dim: Int): DataFrame =
    extractFeatures(media, ByteStatsWorker(dim))

  def extractFeatures(media: DataFrame): DataFrame =
    extractFeatures(media, ByteStatsWorker())

  /** [[extractFeatures]] with PER-MODALITY workers: the same single
    * partition pass, dispatching each row on its `media_type` — by default
    * image/audio/video land on the REAL JDK codec workers and everything
    * else (unknown types, codecs the JDK lacks) on the declared fallback.
    * All workers must share `dim` so the output column stays fixed-width.
    */
  def extractFeaturesRouted(media: DataFrame,
      workers: Map[String, DecodeWorker] = Map(
        "image" -> ImageIoWorker(), "audio" -> WavStatsWorker(),
        "video" -> AviMjpegWorker()),
      fallback: DecodeWorker = ByteStatsWorker()): DataFrame = {
    val dims = (workers.values.toSeq :+ fallback).map(_.dim).distinct
    require(dims.size == 1,
      s"routed workers must share one dim, got $dims")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("media_type", StringType, nullable = true),
      StructField("features", ArrayType(FloatType), nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("doc_id", "media_type", "media")
      .mapPartitions { it =>
        it.map { r =>
          val mt = if (r.isNullAt(1)) null else r.getString(1)
          val bytes = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
          val w = workers.getOrElse(mt, fallback)
          Row(r.getLong(0), mt, w.decode(bytes).toSeq)
        }
      }(enc)
  }

  /** Session store of decoded media-feature artifacts
    * ([[trainedFeatures]]): compaction and the `features` snapshot part are
    * doc_id-disjoint unions. Decode-at-ingest output is expensive (real
    * codec work per document), so a restarted service reloads its snapshot
    * instead of re-decoding the corpus.
    */
  val featureStore = new graft.Artifacts.Store[DataFrame, Unit](
    "feature artifact",
    pins = Seq(_),
    compact = segs => graft.Caching.pinArtifact(graft.Artifacts.unionAll(segs)),
    parts = (_, e) => Seq("features" -> graft.Artifacts.unionAll(e.segs)),
    read = (spark, base) =>
      (graft.Caching.pinArtifact(spark.read.parquet(s"$base/features")), ()))

  /** Session MEDIA-FEATURE artifact: synthesize the encoded corpus and run
    * the routed REAL decode workers ONCE per (session, cacheKey), serving
    * the decoded feature table lineage-free ([[featureStore]]'s locked
    * first build + [[graft.Caching.pinArtifact]] — the
    * [[graft.extra.Dedup.trainedPairs]] discipline). Media decode is the
    * most expensive per-row stage a multimodal pipeline runs; a served
    * system decodes each payload once at ingest and every consumer
    * (near-dup pass, quality gates, curation) reads the feature table. In
    * production this is a parquet/Delta feature table written by the
    * ingest job.
    */
  def trainedFeatures(docs: DataFrame, cacheKey: String): DataFrame = {
    // Spread the (doc_id, text) projection before the synth+decode pass
    // (round 17, the spreadSketchCols rationale — but gated on SCAN
    // PARALLELISM, not bytes): a single-row-group corpus scans as ONE
    // task, and this pipeline is otherwise shuffle-free — so the REAL
    // per-row codec work (encode + PNG/WAV/AVI decode, the most expensive
    // per-row stage in the suite) was running on one core (stage-logged:
    // a 1-task 6.4s localCheckpoint at sf0.1). A byte gate is the wrong
    // shape here because codec cost per byte dwarfs the profiler's
    // explode: even a 600 KB file is seconds of single-core decode. A
    // well-partitioned lake scan (parallelism ≥ half the session's) stays
    // unshuffled. The exchange carries two slim columns; values are
    // per-row deterministic, so the artifact is partitioning-identical.
    // The append path stays unspread: its batches are already
    // exchange-bound (OPTIMIZATION_r17.md §3), not scan-bound. The spread
    // plans the scan and probes its partitioning, so it runs inside the
    // build: a warm fetch never pays for it.
    graft.Artifacts.unionAll(featureStore.memo(docs.sparkSession, cacheKey)(
      (graft.Caching.pinArtifact(extractFeaturesRouted(synthesizeEncoded(
        graft.Tables.spreadForCpu(docs.select(col("doc_id"), col("text")))))),
        ())).segs)
  }

  /** Fold a batch of NEW documents' decoded features into the memoized
    * artifact — O(batch) per append (only the batch's media is
    * synthesized and decoded; decode-at-ingest is exactly what a
    * streaming media pipeline runs), the same segment discipline as the
    * TF artifacts: a doc-idempotent replay guard (features are a
    * deterministic function of the document, so re-delivered docs are
    * dropped rather than duplicated — at-least-once retries cannot grow
    * the table), an empty-batch guard (no empty segments on all-replay
    * batches), and a union compaction past `maxSegments` (exact: doc_id
    * keys are disjoint across segments after the guard). No-op (false)
    * when nothing is memoized under the key.
    */
  def appendFeatures(batch: DataFrame, cacheKey: String,
                     maxSegments: Int = graft.Artifacts.MaxSegments,
                     idCol: String = "doc_id",
                     textCol: String = "text"): Boolean =
    featureStore.append(batch.sparkSession, cacheKey, maxSegments) { e =>
      val fresh = graft.Artifacts.unseen(batch.select(
        col(idCol).as("doc_id"), col(textCol).as("text")), e.segs)
      (graft.Artifacts.pinNonEmpty(
        extractFeaturesRouted(synthesizeEncoded(fresh))), ())
    }

  /** Drop the memoized feature artifact under exactly `cacheKey`
    * (reclaiming its reliable-checkpoint files), so a benchmark can time a
    * TRUE rebuild.
    */
  def resetFeatures(spark: org.apache.spark.sql.SparkSession,
                    cacheKey: String): Unit =
    featureStore.drop(spark, cacheKey)

  /** Absolute path of the decoded-feature FIXTURE the media family's DuckDB
    * oracle twins read. [[graft.Verify]] pins it to the run-scoped SIBLING
    * directory `<outDir>.fixtures/media_features` — deliberately OUTSIDE
    * outDir, which holds declared-query dumps only (r17: a fixture inside
    * outDir was scanned by the driver as a phantom 134th query; Verify now
    * `require`s every outDir entry to be a SparkEntry.queries key) — before
    * dumping or emitting oracle SQL (ADVICE r15: the former shared
    * working-directory location let two concurrent Verify runs clobber
    * each other's fixture between dump and DuckDB compare); the
    * working-directory default only serves ad-hoc sessions that never
    * called [[setFeaturesFixtureDir]].
    * The decode step itself stays spec-locked (SQL cannot run a PNG/WAV
    * /AVI codec); dumping its output lets DuckDB independently re-run
    * everything AFTER decode — whitening + fixed projection ([[MediaEmbed]]),
    * sign-LSH banding, exact cosine, and rep-level component labels.
    */
  @volatile private var featuresFixtureDir: String = "fixtures/media_features"

  /** Pin the fixture location for this JVM (Verify: `<outDir>/media_features`
    * — called before any dump or oracle-SQL emission, so both resolve the
    * same run-scoped directory).
    */
  def setFeaturesFixtureDir(dir: String): Unit = featuresFixtureDir = dir

  def featuresFixturePath: String =
    new java.io.File(featuresFixtureDir).getAbsolutePath

  /** Dump the decoded feature artifact for `docs` to
    * [[featuresFixturePath]] — called by [[graft.Verify]] only (the oracle
    * twins' input; bench runs never write it). Serves from the same
    * memoized artifact the registered queries built, so the dump costs one
    * parquet write, not a re-decode.
    */
  def dumpFeaturesFixture(docs: DataFrame, cacheKey: String): Unit =
    trainedFeatures(docs, cacheKey)
      .coalesce(1).write.mode("overwrite").parquet(featuresFixturePath)

  /** Modality-aware near-dup EMBEDDING over the decoded feature table:
    * center each modality's informative decoded dims with FIXED whitening
    * stats (at production scale these come from the PREVIOUS profiling
    * epoch, not a same-query aggregate — keeping this map per-row and
    * shuffle-free; the constants here are the profile of the synthesized
    * corpus), then expand the centered vector through a FIXED
    * Gaussian projection (seeded per modality, java.util.Random's
    * specified generator — identical on any JVM) to `outDim` dims so
    * [[Dedup.embeddingPairsLsh]]'s sign-LSH banding has `outDim`
    * independent hyperplanes to band over — sign-LSH over the raw 3–5
    * informative dims would run out of distinct hyperplanes after one
    * band. Per-row, shuffle-free, deterministic under any partitioning.
    */
  def mediaEmbedding(features: DataFrame, outDim: Int = 36): DataFrame =
    features.select(col("doc_id"), col("media_type"),
      org.apache.spark.sql.GraftShim.column(MediaEmbedExpr(
        org.apache.spark.sql.GraftShim.expression(col("features")),
        org.apache.spark.sql.GraftShim.expression(col("media_type")),
        outDim)).as("embedding"))

  /** The Column-composition form of [[mediaEmbedding]] — kept as the
    * reference twin that MultimodalSpec locks [[MediaEmbedExpr]] against
    * (same role as the regex chains the one-pass text kernels are locked
    * to). Inlining 3 modalities × outDim dims × ~5 z-scored terms as
    * Column arithmetic builds a multi-thousand-node projection whose
    * generated Java runs to ~15k lines; janino intermittently fails to
    * compile it (whole-stage fallback to interpreted eval — observed on
    * the sf10 probe), which is why the production path is the compiled
    * kernel.
    */
  private[graft] def mediaEmbeddingRef(features: DataFrame,
                                       outDim: Int = 36): DataFrame = {
    // (centered informative dims) per modality: element_at is 1-based
    def f(i: Int): Column = element_at(col("features"), i).cast("double")
    def z(i: Int, mean: Double, std: Double): Column = (f(i) - mean) / std
    val centered: Map[String, Seq[Column]] =
      MediaEmbed.specs.map { case (m, dims) =>
        m -> dims.map { case (i, mean, std) => z(i, mean, std) }
      }
    val arrays = centered.map { case (m, cs) =>
      val w = MediaEmbed.weights(m, outDim)
      val proj = (0 until outDim).map { d =>
        cs.zip(w(d)).map { case (c, wdk) => c * lit(wdk) }.reduce(_ + _)
      }
      m -> array(proj.map(_.cast(FloatType)): _*)
    }
    features.select(col("doc_id"), col("media_type"),
      when(col("media_type") === "image", arrays("image"))
        .when(col("media_type") === "audio", arrays("audio"))
        .when(col("media_type") === "video", arrays("video"))
        .as("embedding"))
  }

  /** The multimodal NEAR-DUP pass a training pipeline runs over its media
    * corpus: per modality (a modality is its own embedding space — image
    * and audio features must never cross-pair), collapse bit-identical
    * embeddings to group representatives, band the distinct
    * [[mediaEmbedding]] vectors through the sign-LSH prefilter, verify
    * survivors with exact cosine, and expand back to member pairs
    * ([[Dedup.embeddingPairsLshCollapsed]] — candidates come from
    * (table, bucket) equi-joins over DISTINCT vectors, never all-pairs
    * and never per-duplicate: the 100 TB shape). The collapse is what
    * keeps this linear-plus-output at corpus scale: decoded-media
    * statistics live on a capped lattice, so the number of distinct
    * vectors is bounded by the discretization while identical-vector
    * groups grow with the corpus (sf1.0 probe: 50k rows, 6.6k distinct —
    * the row-level bucket join would pay 892M candidates, the collapsed
    * one 11M). Returns (media_type, id_a, id_b, cosine), a < b —
    * pair-for-pair identical to routing through the uncollapsed
    * [[Dedup.embeddingPairsLsh]] (spec-locked in MultimodalSpec).
    */
  def mediaNearDupPairs(features: DataFrame, threshold: Double,
                        bitsPerTable: Int = 4, tables: Int = 9): DataFrame = {
    // query-scoped pin: the banding self-join and the verify join would
    // otherwise each inline the full (outDim × in-dims)-term projection
    // expression into BOTH sides' codegen (measured 7.5 MiB task
    // binaries); cached, the joins reference one in-memory relation
    val emb = graft.Caching.temp(
      mediaEmbedding(features, outDim = bitsPerTable * tables))
    // ONE plan for all three modalities: media_type rides every group and
    // bucket key as a partition column, so modalities never cross-pair —
    // equivalent to a per-modality union at a third of the stage count
    graft.extra.Dedup.embeddingPairsLshCollapsed(
      emb.select(col("media_type"), col("doc_id").as("vec_id"),
        col("embedding")),
      threshold, bitsPerTable, tables, partitionCols = Seq("media_type"))
  }

  /** Cluster labels over [[mediaNearDupPairs]]' near-dup relation with
    * O(corpus) output — the consumer a dedup pipeline actually feeds its
    * drop list from. On this corpus the distinction is decisive: the
    * capped feature lattice makes the TRUE pair count quadratic in clique
    * sizes (~1e9 pairs at 500k rows on the sf10 probe), so the all-pairs
    * operator is output-bound no matter the candidate generator, while the
    * cluster operator's components run at the lattice-bounded rep level
    * ([[graft.extra.Dedup.embeddingClustersLshCollapsed]]) and emit one
    * row per document. Spec-locked consistent with the pair set:
    * identical partition into clusters as connected components over the
    * expanded pairs, canonical = min doc_id.
    *
    * @return (media_type, doc_id, cluster_id, is_rep 1|0)
    */
  def mediaNearDupClusters(features: DataFrame, threshold: Double,
                           bitsPerTable: Int = 4, tables: Int = 9): DataFrame = {
    val emb = graft.Caching.temp(
      mediaEmbedding(features, outDim = bitsPerTable * tables))
    graft.extra.Dedup.embeddingClustersLshCollapsed(
      emb.select(col("media_type"), col("doc_id").as("vec_id"),
        col("embedding")),
      threshold, bitsPerTable, tables, partitionCols = Seq("media_type"))
      .select(col("media_type"), col("vec_id").as("doc_id"),
        col("cluster_id"), col("is_rep"))
  }

  /** Frame sampling for video/audio rows: one output row per sampled offset,
    * with the (stub-)sliced payload. Pure generate — no shuffle.
    */
  def frameSample(media: DataFrame, everyMs: Long = 1000L): DataFrame =
    media
      .filter(col("media_type").isin("video", "audio"))
      .filter(col("meta.duration_ms") > 0) // sequence() rejects 0 → -1 ranges
      .select(col("doc_id"), col("media_type"), col("media"),
        col("meta.duration_ms").as("duration_ms"))
      .withColumn("offset_ms",
        explode(sequence(lit(0L), col("duration_ms") - 1, lit(everyMs))))
      .withColumn("frame_idx", (col("offset_ms") / everyMs).cast("int"))
      // stub slice: 32 payload bytes at the proportional position
      .withColumn("frame",
        expr("substring(media, cast(offset_ms * length(media) / greatest(duration_ms, 1) as int) + 1, 32)"))
      .select("doc_id", "media_type", "frame_idx", "offset_ms", "frame")

  /** Metadata-only resize: recompute target dimensions, payload untouched
    * (a real resize happens inside the decode worker).
    */
  def resizeMeta(media: DataFrame, maxSide: Int): DataFrame = {
    val scale = least(lit(1.0),
      lit(maxSide) / greatest(col("meta.width"), col("meta.height")))
    media.withColumn("meta", struct(
      ceil(col("meta.width") * scale).cast("int").as("width"),
      ceil(col("meta.height") * scale).cast("int").as("height"),
      col("meta.duration_ms").as("duration_ms"),
      col("meta.n_bytes").as("n_bytes")))
  }
}

/** Compiled kernel behind [[Multimodal.mediaEmbedding]]: whiten a
  * modality's informative decoded dims with FIXED prior-epoch stats, then
  * expand through a FIXED seeded Gaussian projection — the whole map as
  * one static call instead of a multi-thousand-node Column tree (whose
  * ~15k-line generated projection janino intermittently fails to compile,
  * dropping the stage to interpreted eval; observed on the sf10 probe).
  * Arithmetic is operation-for-operation the Column form's — double
  * z-scores, weight products summed left-to-right, each dim cast to float
  * — so outputs are bit-identical (spec-locked against
  * [[Multimodal.mediaEmbeddingRef]] in MultimodalSpec).
  */
object MediaEmbed {
  /** Per modality: (1-based feature dim, prior-epoch mean, edit-floored σ).
    *
    * image decode [w, h, meanR, meanG, meanB]: w/h carry the
    * distinct-token count and avg token length, meanRGB the vowel /
    * long-token / length ratios. audio decode [dur_s, rate, ch, rms,
    * peak, n]: dur carries the distinct-token count, rms/peak the two
    * sine amplitudes (n duplicates dur). video decode [dur_s, n_frames,
    * w, h, n_dec, meanR, meanG, meanB]: w/h carry the count and
    * token-length stats, frame-mean RGB the mixed ratios.
    *
    * Stats are the synthesized corpus's prior-epoch profile (probed once
    * over sf0.01; stable across SFs because the generator's word pool
    * is). Each divisor is max(prior-epoch σ, 2 × the dim's jump under a
    * ONE-TOKEN edit — rounding/ratio quantum): plain 1/σ whitening makes
    * random pairs isotropic but amplifies the quantization cliffs
    * (integer pixels, 1/u ratio steps) that a single-token edit trips,
    * scattering true near-dup pairs; flooring the divisor at twice the
    * edit jump caps any one edit at ~0.5 units per dim.
    */
  val specs: Map[String, Seq[(Int, Double, Double)]] = Map(
    "image" -> Seq((1, 35.81, 2.47), (2, 21.95, 2.0),
      (3, 0.3477, 0.0160), (4, 0.1961, 0.0860), (5, 0.5607, 0.0176)),
    "audio" -> Seq((1, 0.0853, 0.0080), (4, 0.2288, 0.0104),
      (5, 0.3778, 0.0082)),
    "video" -> Seq((3, 26.52, 2.95), (4, 14.02, 2.0),
      (6, 0.5261, 0.0951), (7, 0.2736, 0.0440), (8, 0.3833, 0.0500)))

  /** outDim × k Gaussian projection, seeded per modality
    * (java.util.Random's specified generator — identical on any JVM),
    * drawn row-major exactly as the Column form drew it.
    */
  private val weightCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Array[Array[Double]]]
  def weights(m: String, outDim: Int): Array[Array[Double]] =
    weightCache.computeIfAbsent((m, outDim), _ => {
      val k = specs(m).length
      val rnd = new java.util.Random(m.hashCode.toLong)
      Array.fill(outDim)(Array.fill(k)(rnd.nextGaussian()))
    })

  /** One row's embedding; null for an unknown modality (the Column form's
    * unmatched when-chain) and for a features array missing a referenced
    * dim (never produced by the decode workers, whose per-modality shapes
    * are fixed).
    */
  def compute(features: org.apache.spark.sql.catalyst.util.ArrayData,
              mediaType: org.apache.spark.unsafe.types.UTF8String,
              outDim: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val m = mediaType.toString
    val spec = specs.getOrElse(m, null)
    if (spec == null) return null
    val k = spec.length
    val z = new Array[Double](k)
    var j = 0
    while (j < k) {
      val (idx, mean, std) = spec(j)
      if (features.numElements() < idx || features.isNullAt(idx - 1))
        return null
      z(j) = (features.getFloat(idx - 1).toDouble - mean) / std
      j += 1
    }
    val w = weights(m, outDim)
    val out = new Array[Float](outDim)
    var d = 0
    while (d < outDim) {
      val wd = w(d)
      var s = z(0) * wd(0)
      j = 1
      while (j < k) { s += z(j) * wd(j); j += 1 }
      out(d) = s.toFloat
      d += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** features × media_type → embedding via [[MediaEmbed.compute]]. */
case class MediaEmbedExpr(left: org.apache.spark.sql.catalyst.expressions.Expression,
                          right: org.apache.spark.sql.catalyst.expressions.Expression,
                          outDim: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def dataType: org.apache.spark.sql.types.DataType =
    ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(f: Any, m: Any): Any =
    MediaEmbed.compute(
      f.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      m.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], outDim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (f, m) => {
      s"""
         |${ev.value} = graft.extra.MediaEmbed.compute($f, $m, $outDim);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      l: org.apache.spark.sql.catalyst.expressions.Expression,
      r: org.apache.spark.sql.catalyst.expressions.Expression) =
    copy(left = l, right = r)
}
