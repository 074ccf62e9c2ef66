package graft

import graft.extra.Multimodal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def media = Multimodal.synthesize(
    Tables.load(spark, SparkTestSession.sf0001, "documents").limit(60))

  test("synthesize: binary payload + typed metadata schema") {
    val m = media
    assert(m.schema("media").dataType.typeName == "binary")
    val r = m.filter(col("doc_id") === 3).collect()(0)
    assert(r.getAs[String]("media_type") == "image") // 3 % 3 == 0 → image
    val meta = r.getStruct(r.fieldIndex("meta"))
    assert(meta.getAs[Long]("n_bytes") > 0)
  }

  test("extractFeatures: fixed dim, deterministic, batched per partition") {
    val f1 = Multimodal.extractFeatures(media, 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    val f2 = Multimodal.extractFeatures(media.repartition(7), 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(f1.values.forall(_.length == 16))
    assert(f1 == f2, "features must not depend on partitioning")
    assert(f1.values.exists(_.exists(_ != 0.0f)))
  }

  test("ImageIoWorker decodes a REAL PNG payload through the pipeline") {
    import java.awt.image.BufferedImage
    // a 20x10 solid-red PNG, encoded with the JDK's own writer
    val img = new BufferedImage(20, 10, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 10; x <- 0 until 20) img.setRGB(x, y, 0xff0000)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    assert(png.take(4).sameElements(Array(0x89.toByte, 'P'.toByte, 'N'.toByte,
      'G'.toByte)), "fixture must be an actual PNG")

    import spark.implicits._
    val m = Seq((1L, png, "image"), (2L, "not an image".getBytes, "image"),
        (3L, null.asInstanceOf[Array[Byte]], "image"))
      .toDF("doc_id", "media", "media_type")
    val got = Multimodal.extractFeatures(m, Multimodal.ImageIoWorker(8))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    // real pixel decode: dimensions + channel means of the solid-red image
    assert(got(1L).take(5) == Seq(20.0f, 10.0f, 1.0f, 0.0f, 0.0f))
    // corrupt and null payloads degrade to the zero vector, never crash
    assert(got(2L).forall(_ == 0.0f) && got(3L).forall(_ == 0.0f))
  }

  test("WavStatsWorker decodes a REAL WAV payload through the pipeline") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 0.25s of a 440 Hz sine at amplitude 0.5, 16-bit PCM mono 8000 Hz,
    // written with the JDK's own WAV encoder
    val rate = 8000; val nSamples = rate / 4; val amp = 0.5
    val pcm = new Array[Byte](nSamples * 2)
    for (i <- 0 until nSamples) {
      val v = (math.sin(2 * math.Pi * 440 * i / rate) * amp * 32767).toInt
      pcm(2 * i) = (v & 0xff).toByte          // little-endian
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray
    assert(new String(wav.take(4), "US-ASCII") == "RIFF",
      "fixture must be an actual WAV")

    import spark.implicits._
    val m = Seq((1L, wav, "audio"), (2L, "not audio".getBytes, "audio"),
        (3L, null.asInstanceOf[Array[Byte]], "audio"))
      .toDF("doc_id", "media", "media_type")
    val got = Multimodal.extractFeatures(m, Multimodal.WavStatsWorker(8))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    val f = got(1L)
    assert(math.abs(f(0) - 0.25f) < 1e-3, s"duration: ${f(0)}")
    assert(f(1) == 8000.0f && f(2) == 1.0f)
    // sine RMS = amp/sqrt(2) ≈ 0.3536, peak ≈ amp
    assert(math.abs(f(3) - amp / math.sqrt(2)) < 0.01, s"rms: ${f(3)}")
    assert(math.abs(f(4) - amp) < 0.01, s"peak: ${f(4)}")
    assert(f(5) == nSamples.toFloat)
    // corrupt and null payloads degrade to the zero vector, never crash
    assert(got(2L).forall(_ == 0.0f) && got(3L).forall(_ == 0.0f))
  }

  test("Mp4MetadataWorker parses a REAL MP4 container through the pipeline") {
    import spark.implicits._
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8) ++ typ.getBytes("ISO-8859-1") ++ payload
    // mvhd v0: version+flags, creation, modification, timescale=1000,
    // duration=5000 -> 5 s
    val mvhd = box("mvhd",
      Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++ be32(1000) ++ be32(5000))
    // tkhd v0: version+flags + 20B (creation/mod/id/res/duration) + 16B
    // (res/layer/alt/vol/res) + 36B matrix + width/height 16.16 = 640x360
    val tkhd = box("tkhd", Array[Byte](0, 0, 0, 0)
      ++ new Array[Byte](20) ++ new Array[Byte](16) ++ new Array[Byte](36)
      ++ be32(640L << 16) ++ be32(360L << 16))
    val mp4 = box("ftyp", "isom".getBytes("ISO-8859-1") ++ be32(0)) ++
      box("moov", mvhd ++ box("trak", tkhd))

    val w = Multimodal.Mp4MetadataWorker(8)
    val f = w.decode(mp4)
    assert(f(0) == 5.0f, s"duration_s: ${f(0)}")
    assert(f(1) == 1.0f, s"n_tracks: ${f(1)}")
    assert(f(2) == 640.0f && f(3) == 360.0f, s"size: ${f(2)}x${f(3)}")
    assert(f(4) == 1.0f, "ok flag")
    // corrupt / truncated / non-MP4 payloads yield the zero vector
    assert(w.decode("not a movie".getBytes).forall(_ == 0f))
    assert(w.decode(mp4.take(10)).forall(_ == 0f))
    assert(w.decode(null).forall(_ == 0f))
    // and the batched pipeline carries it like any other worker
    val df = Seq((1L, mp4, "video")).toDF("doc_id", "media", "media_type")
    val feats = Multimodal.extractFeatures(df, w)
      .select("features").head().getSeq[Float](0)
    assert(feats.take(5) == Seq(5.0f, 1.0f, 640.0f, 360.0f, 1.0f))
  }

  test("AviMjpegWorker decodes REAL video frames from an MJPEG AVI") {
    import java.awt.image.BufferedImage
    import spark.implicits._
    // three solid-color JPEG frames (red, green, blue), encoded with the
    // JDK's own writer, hand-assembled into a RIFF/AVI container:
    // RIFF('AVI ' LIST('hdrl' avih) LIST('movi' 00dc 00dc 00dc))
    def jpeg(rgb: Int): Array[Byte] = {
      val img = new BufferedImage(16, 8, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 16) img.setRGB(x, y, rgb)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val pad = if (payload.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes("ISO-8859-1") ++ le32(payload.length) ++ payload ++ pad
    }
    def list(typ: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("ISO-8859-1") ++ children)
    // avih: dwMicroSecPerFrame=40000 (25 fps), 12B reserved, dwTotalFrames=3
    val avih = chunk("avih",
      le32(40000) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(3) ++ new Array[Byte](36))
    val frames = Seq(0xff0000, 0x00ff00, 0x0000ff).map(jpeg)
    val movi = list("movi", frames.map(chunk("00dc", _)).reduce(_ ++ _))
    val body = "AVI ".getBytes("ISO-8859-1") ++ list("hdrl", avih) ++ movi
    val avi = "RIFF".getBytes("ISO-8859-1") ++ le32(body.length) ++ body

    val w = Multimodal.AviMjpegWorker(16)
    val f = w.decode(avi)
    assert(math.abs(f(0) - 0.12f) < 1e-4, s"duration_s: ${f(0)}") // 3 x 40ms
    assert(f(1) == 3.0f, s"n_frames: ${f(1)}")
    assert(f(2) == 16.0f && f(3) == 8.0f, s"size: ${f(2)}x${f(3)}")
    assert(f(4) == 3.0f, s"n_decoded: ${f(4)}")
    // mean over one red + one green + one blue frame ~= 1/3 per channel
    // (JPEG is lossy; solid 16x8 blocks land within a few percent)
    for (c <- 5 to 7)
      assert(math.abs(f(c) - 1.0f / 3) < 0.05, s"channel $c: ${f(c)}")
    // corrupt / truncated / non-AVI payloads yield the zero vector
    assert(w.decode("RIFFnope".getBytes).forall(_ == 0f))
    assert(w.decode(avi.take(20)).forall(_ == 0f))
    assert(w.decode(null).forall(_ == 0f))
    // and the batched pipeline carries it like any other worker
    val df = Seq((1L, avi, "video")).toDF("doc_id", "media", "media_type")
    val feats = Multimodal.extractFeatures(df, w)
      .select("features").head().getSeq[Float](0)
    assert(feats(1) == 3.0f && feats(4) == 3.0f)
  }

  test("frameSample: one row per offset, only for timed media") {
    val frames = Multimodal.frameSample(media, 1000L)
    assert(frames.filter(col("media_type") === "image").count() == 0)
    val one = frames.filter(col("doc_id") === 1).orderBy("frame_idx").collect()
    assert(one.nonEmpty)
    assert(one.head.getAs[Int]("frame_idx") == 0)
    assert(one.map(_.getAs[Long]("offset_ms")).toSeq ==
      one.indices.map(_ * 1000L).toSeq)
  }

  test("non-JDK codec contract: H.264 payloads ride the fallback seam") {
    // The FINAL boundary decision (COVERAGE.md): codecs the JDK lacks
    // (H.264/VP9) are served by the fallback seam, not a hand-rolled
    // decoder — ByteStatsWorker gives deterministic byte-level features,
    // and a production deployment swaps a real decoder in AT THE SAME SEAM
    // with no plan change. This locks both halves of that contract.
    import spark.implicits._
    // an H.264 Annex-B-shaped payload: 4-byte start codes + NAL headers
    // (SPS 0x67, PPS 0x68, IDR 0x65) followed by opaque slice bytes
    def nal(header: Int, n: Int) =
      Array[Byte](0, 0, 0, 1, header.toByte) ++
        Array.tabulate(n)(i => ((i * 37 + header) % 251).toByte)
    val h264 = nal(0x67, 24) ++ nal(0x68, 8) ++ nal(0x65, 4096)
    val m = Seq((1L, h264, "video"), (2L, null.asInstanceOf[Array[Byte]], "video"),
        (3L, Array.empty[Byte], "video"))
      .toDF("doc_id", "media", "media_type")
    val viaFallback = Multimodal.extractFeatures(m, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    // deterministic, fixed-width, non-degenerate on the real payload;
    // null/empty payloads yield the zero vector rather than failing
    assert(viaFallback(1L).length == 16 && viaFallback(1L).exists(_ != 0f))
    assert(viaFallback(2L).forall(_ == 0f) && viaFallback(3L).forall(_ == 0f))
    val again = Multimodal.extractFeatures(m, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(again == viaFallback, "fallback features must be deterministic")
    // the seam: a custom decoder (stand-in for JavaCV/a codec process)
    // plugs in with IDENTICAL schema and row set — only features change
    object NalCountWorker extends Multimodal.DecodeWorker {
      val dim = 16
      def decode(bytes: Array[Byte]): Array[Float] = {
        val out = new Array[Float](dim)
        if (bytes == null || bytes.length < 5) return out
        var i = 0
        while (i + 4 < bytes.length) {
          if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 0 &&
            bytes(i + 3) == 1) out((bytes(i + 4) & 0x1f) % dim) += 1f
          i += 1
        }
        out
      }
    }
    val viaCustom = Multimodal.extractFeatures(m, NalCountWorker)
    assert(viaCustom.columns.toSeq ==
      Seq("doc_id", "media_type", "features"))
    val cust = viaCustom.collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(cust.keySet == viaFallback.keySet)
    // SPS(7), PPS(8), IDR(5) each seen once through the seam
    assert(cust(1L)(7) == 1f && cust(1L)(8) == 1f && cust(1L)(5) == 1f)
  }

  test("synthesizeEncoded: REAL decodable payloads whose features mirror the metadata") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents").limit(30)
    val enc = Multimodal.synthesizeEncoded(docs)
    val feats = Multimodal.extractFeaturesRouted(enc)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    val metas = enc.collect().map { r =>
      r.getLong(0) -> (r.getString(2), r.getStruct(3))
    }.toMap
    assert(metas.nonEmpty)
    metas.foreach { case (id, (mt, meta)) =>
      val f = feats(id)
      mt match {
        case "image" => // real PNG decode recovers the synthesized size
          assert(f(0) == meta.getAs[Int]("width").toFloat, s"doc $id width")
          assert(f(1) == meta.getAs[Int]("height").toFloat, s"doc $id height")
          assert(f(2) > 0f && f(4) > 0f, s"doc $id channel means")
        case "audio" => // real WAV decode recovers the synthesized duration
          assert(math.abs(f(0) - meta.getAs[Long]("duration_ms") / 1000.0f) < 2e-3,
            s"doc $id duration: ${f(0)}")
          assert(f(1) == 8000f && f(3) > 0f && f(4) > 0f, s"doc $id pcm stats")
        case "video" => // real MJPEG frame decode recovers size + both frames
          assert(f(2) == meta.getAs[Int]("width").toFloat, s"doc $id width")
          assert(f(1) == 2f && f(4) == 2f, s"doc $id frames decoded")
      }
    }
    // deterministic under repartitioning (payload bytes identical)
    val again = Multimodal.extractFeaturesRouted(
      Multimodal.synthesizeEncoded(docs.repartition(5)))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(again == feats)
  }

  test("mediaNearDupPairs: planted same-token-set dups pair at cosine 1, modalities never cross") {
    import spark.implicits._
    // ids chosen so each planted pair lands in ONE modality (id % 3):
    // image 0/3, audio 1/4, video 2/5; the near-dup edit is token
    // repetition + shuffle — distinct-set invariant, like the fixture
    val a = "quick brown fox jumps over the lazy dog near the river bank"
    val aDup = "the lazy dog jumps over the quick brown fox near the bank river " + a
    val other = "completely different words about spark catalyst optimizer plans and shuffles everywhere"
    val docs = Seq(
      0L -> a, 3L -> aDup, 6L -> other,
      1L -> a, 4L -> aDup, 7L -> other,
      2L -> a, 5L -> aDup, 8L -> other).toDF("doc_id", "text")
    val feats = Multimodal.extractFeaturesRouted(Multimodal.synthesizeEncoded(docs))
    val pairs = Multimodal.mediaNearDupPairs(feats, 0.99).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // each modality finds exactly its planted pair, at cosine 1 (identical
    // distinct-token stats → identical payload → identical features)
    assert(pairs.toSet == Set(
      ("image", 0L, 3L, 1.0), ("audio", 1L, 4L, 1.0), ("video", 2L, 5L, 1.0)),
      s"got: ${pairs.mkString(", ")}")
  }

  test("mediaNearDupPairs: LSH-banded pairs ⊆ brute force on the same embedding, high recall") {
    val feats = Multimodal.trainedFeatures(
      Tables.load(spark, "/root/testdata/sf0.01", "documents"),
      "spec#media:documents")
    val thr = 0.99
    val lsh = Multimodal.mediaNearDupPairs(feats, thr).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val emb = Multimodal.mediaEmbedding(feats)
    val brute = Seq("image", "audio", "video").flatMap { m =>
      extra.Dedup.embeddingPairs(
        emb.filter(col("media_type") === m)
          .select(col("doc_id").as("vec_id"), col("embedding")), thr)
        .collect().map(r => (m, r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    }.toMap
    assert(lsh.nonEmpty && brute.nonEmpty)
    // soundness: every banded pair is a true pair with the SAME cosine
    lsh.foreach { case (k, c) =>
      assert(brute.get(k).contains(c), s"LSH pair $k not in brute force") }
    // recall: deterministic fixed hyperplanes, so this is a fixed number
    // for this corpus — lock a conservative floor
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall (${lsh.size}/${brute.size})")
  }

  test("synthesizeEncoded survives degenerate texts in every modality") {
    import spark.implicits._
    // empty text, whitespace-only, all-1-char tokens (avg token length
    // far below the shape mappings' centers) — in each doc_id % 3 branch;
    // the video height mapping used to go ≤ 0 here and BufferedImage
    // throws on non-positive dimensions
    val degenerate = (0L until 9L).map { id =>
      (id, id / 3 match {
        case 0 => ""
        case 1 => "   "
        case _ => "a b c d e"
      })
    }.toDF("doc_id", "text")
    val media = Multimodal.synthesizeEncoded(degenerate).collect()
    assert(media.length == 9)
    media.foreach { r =>
      assert(r.getAs[Array[Byte]]("media").nonEmpty, s"doc ${r.getLong(0)}") }
    // and the decode workers read them back
    val feats = Multimodal.extractFeaturesRouted(
      Multimodal.synthesizeEncoded(degenerate)).collect()
    assert(feats.length == 9)
    feats.foreach { r =>
      assert(r.getSeq[Float](2).nonEmpty, s"doc ${r.getLong(0)}") }
  }

  test("MediaEmbedExpr ≡ the Column-composition reference, bit-for-bit") {
    // the compiled kernel must reproduce the expanded Column arithmetic
    // exactly (double z-scores, left-to-right weighted sum, float cast) —
    // over every modality of the real decoded corpus, at both the default
    // and a non-default outDim
    val feats = Multimodal.trainedFeatures(
      Tables.load(spark, "/root/testdata/sf0.01", "documents"),
      "spec#media:documents")
    Seq(36, 12).foreach { outDim =>
      val fast = Multimodal.mediaEmbedding(feats, outDim).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
      val ref = Multimodal.mediaEmbeddingRef(feats, outDim).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
      assert(fast.keySet == ref.keySet)
      fast.foreach { case (id, v) =>
        assert(v == ref(id), s"outDim=$outDim doc $id: $v vs ${ref(id)}") }
    }
    // unknown modality → NULL embedding (the unmatched when-chain)
    import spark.implicits._
    val odd = Seq((1L, Seq(1.0f, 2.0f), "hologram")).toDF(
      "doc_id", "features", "media_type")
    assert(Multimodal.mediaEmbedding(odd).collect().head.isNullAt(2))
  }

  test("collapsed LSH ≡ uncollapsed LSH: identical pair set and cosines") {
    // the media corpus is exactly the collision-dense shape the exact-group
    // collapse targets (capped feature lattice → many ids share a vector);
    // the collapsed operator must reproduce the row-level operator's
    // output pair-for-pair, including within-group self-cosine pairs
    val feats = Multimodal.trainedFeatures(
      Tables.load(spark, "/root/testdata/sf0.01", "documents"),
      "spec#media:documents")
    val emb = Multimodal.mediaEmbedding(feats)
    Seq("image", "audio", "video").foreach { m =>
      val in = emb.filter(col("media_type") === m)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val flat = extra.Dedup.embeddingPairsLsh(in, 0.99, 4, 9)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val coll = extra.Dedup.embeddingPairsLshCollapsed(in, 0.99, 4, 9)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(coll.nonEmpty, s"$m: empty pair set")
      assert(coll == flat, s"$m: collapsed ≠ uncollapsed " +
        s"(${coll.size} vs ${flat.size} pairs; " +
        s"onlyCollapsed=${(coll.keySet -- flat.keySet).take(3)}, " +
        s"onlyFlat=${(flat.keySet -- coll.keySet).take(3)})")
    }
  }

  test("mediaNearDupClusters ≡ connected components over the expanded pair set") {
    // the O(n)-output cluster operator must induce the identical partition
    // (and the identical min-id canonical labels) as clustering the
    // all-pairs operator's output — per modality on the real decoded corpus
    val feats = Multimodal.trainedFeatures(
      Tables.load(spark, "/root/testdata/sf0.01", "documents"),
      "spec#media:documents")
    val thr = 0.99
    val fast = Multimodal.mediaNearDupClusters(feats, thr).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val pairs = Multimodal.mediaNearDupPairs(feats, thr)
    val docs = Multimodal.mediaEmbedding(feats)
      .select(col("media_type"), col("doc_id"))
    val ref = Seq("image", "audio", "video").flatMap { m =>
      extra.CorpusOps.dedupClusters(
        docs.filter(col("media_type") === m), "doc_id",
        pairs.filter(col("media_type") === m)
          .select(col("id_a"), col("id_b")))
        .collect().map(r => (m, r.getLong(0)) -> (r.getLong(1), r.getLong(2)))
    }.toMap
    assert(fast.keySet == ref.keySet)
    assert(fast.size == docs.count())
    val diff = fast.collect { case (k, v) if ref(k) != v => (k, v, ref(k)) }
    assert(diff.isEmpty, s"first diffs: ${diff.take(5)}")
    // sanity: clustering is non-trivial on this corpus (real dup groups)
    assert(fast.values.map(_._1).toSet.size < fast.size)
  }

  test("appendFeatures: grown ≡ fresh, replay no-op, compaction exact, untrained no-op") {
    import spark.implicits._
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
      .select("doc_id", "text").orderBy("doc_id").limit(30).cache()
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val (baseIds, b1Ids, b2Ids) =
      (ids.take(20).toSet, ids.slice(20, 25).toSet, ids.drop(25).toSet)
    def part(s: Set[Long]) = docs.filter(col("doc_id").isin(s.toSeq: _*))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getSeq[Float](2))).toMap
    // untrained key: append is a no-op signal
    Multimodal.resetFeatures(spark, "spec#media:append")
    assert(!Multimodal.appendFeatures(part(b1Ids), "spec#media:append"))
    // build on the base, append two batches — the second overlapping b1
    // (an at-least-once replay): served table ≡ one fresh full build
    Multimodal.trainedFeatures(part(baseIds), "spec#media:append")
    assert(Multimodal.appendFeatures(part(b1Ids), "spec#media:append"))
    assert(Multimodal.appendFeatures(part(b1Ids ++ b2Ids), "spec#media:append"))
    val grown = rowsOf(Multimodal.trainedFeatures(
      part(baseIds), "spec#media:append")) // key hit: docs arg unused
    Multimodal.resetFeatures(spark, "spec#media:fresh")
    val fresh = rowsOf(Multimodal.trainedFeatures(docs, "spec#media:fresh"))
    assert(grown == fresh, s"grown ${grown.size} vs fresh ${fresh.size}")
    // full replay: segment count and served rows unchanged
    val segsBefore = Multimodal.featureStore.segmentCount(spark, "spec#media:append")
    assert(Multimodal.appendFeatures(docs, "spec#media:append"))
    assert(Multimodal.featureStore.segmentCount(spark, "spec#media:append") == segsBefore)
    assert(rowsOf(Multimodal.trainedFeatures(
      part(baseIds), "spec#media:append")) == fresh)
    // forced compaction (maxSegments = 1) is exact
    Multimodal.resetFeatures(spark, "spec#media:compact")
    Multimodal.trainedFeatures(part(baseIds), "spec#media:compact")
    assert(Multimodal.appendFeatures(part(b1Ids), "spec#media:compact",
      maxSegments = 1))
    assert(Multimodal.appendFeatures(part(b2Ids), "spec#media:compact",
      maxSegments = 1))
    assert(Multimodal.featureStore.segmentCount(spark, "spec#media:compact") == 1)
    assert(rowsOf(Multimodal.trainedFeatures(
      part(baseIds), "spec#media:compact")) == fresh)
    Multimodal.resetFeatures(spark, "spec#media:append")
    Multimodal.resetFeatures(spark, "spec#media:fresh")
    Multimodal.resetFeatures(spark, "spec#media:compact")
  }

  test("trainedFeatures is a session artifact: memoized, reset forces a true rebuild") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents").limit(20)
    Multimodal.resetFeatures(spark, "spec#media:memo")
    val a = Multimodal.trainedFeatures(docs, "spec#media:memo")
    val b = Multimodal.trainedFeatures(docs, "spec#media:memo")
    assert(a eq b, "warm fetch must serve the memoized artifact")
    val rows = a.collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    Multimodal.resetFeatures(spark, "spec#media:memo")
    val c = Multimodal.trainedFeatures(docs, "spec#media:memo")
    assert(!(a eq c), "reset must drop the memo")
    assert(c.collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap == rows,
      "rebuild is value-identical (deterministic pipeline)")
    Multimodal.resetFeatures(spark, "spec#media:memo")
  }

  test("resizeMeta caps the longer side, keeps payload untouched") {
    val resized = Multimodal.resizeMeta(media, 128)
    val r = resized.select(col("meta.width"), col("meta.height")).collect()
    assert(r.forall(x => x.getInt(0) <= 128 && x.getInt(1) <= 128))
    assert(resized.filter(col("media").isNull).count() == 0)
  }
}
