package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("pngEncode emits valid PNGs: the JDK ImageIO codec decodes them pixel-exactly") {
    val w = 13; val h = 7
    val px = Array.tabulate(w * h)(i => ((i * 37 + 5) % 256).toByte)
    val png = Multimodal.pngEncode(w, h, px)
    // signature + IHDR dims via the cheap metadata path
    assert(Multimodal.pngDims(png) === ((w, h)))
    // full decode through the real codec recovers every sample
    assert(Multimodal.pngPixels(png).toSeq === px.toSeq)
    // and an independent decoder agrees on dims
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth === w && img.getHeight === h)
  }

  test("encode → decode roundtrip recovers IHDR metadata and pixel stats") {
    val media = Multimodal.mediaTable(spark, dir)
    val meta = Multimodal.decodeMeta(media).collect()
    assert(meta.length === 500)
    meta.foreach { m =>
      assert(m.width >= 1 && m.width <= 64)
      assert(m.height >= 1 && m.height <= 48)
      assert(m.n_bytes > 8) // real file: signature + 3 chunks
      assert(m.mean_byte > 0.0 && m.mean_byte < 256.0)
      assert(m.format === "png")
    }
  }

  test("binaryFile source loads on-disk media blobs into the same decode path") {
    import spark.implicits._
    // write a handful of PNGs as loose files — the media-lake layout —
    // then read them back through the DataFrame binaryFile source and run
    // the standard decoder on the loaded bytes
    val tmp = java.nio.file.Files.createTempDirectory("graft_media").toFile
    try {
      val blobs = Multimodal.mediaTable(spark, dir).limit(5).collect()
      blobs.foreach { m =>
        java.nio.file.Files.write(
          new java.io.File(tmp, s"doc_${m.doc_id}.png").toPath, m.media)
      }
      val loaded = spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(tmp.getAbsolutePath)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.png$", 1).cast("long").as("doc_id"),
          lit("png").as("format"), col("content").as("media"))
        .as[Multimodal.MediaRow]
      val meta = Multimodal.decodeMeta(loaded).collect()
        .map(m => m.doc_id -> ((m.width, m.height, m.n_bytes))).toMap
      val ids = blobs.map(_.doc_id).toSet
      val direct = Multimodal.decodeMeta(
          Multimodal.mediaTable(spark, dir).filter(r => ids(r.doc_id))).collect()
        .map(m => m.doc_id -> ((m.width, m.height, m.n_bytes))).toMap
      assert(meta === direct)
    } finally {
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }

  test("resize clamps dimensions, re-encodes valid PNGs, and is deterministic") {
    val media = Multimodal.mediaTable(spark, dir)
    val resized = Multimodal.decodeMeta(Multimodal.resize(media, maxDim = 16)).collect()
    resized.foreach { m =>
      assert(m.width <= 16 && m.height <= 16)
      assert(m.width >= 1 && m.height >= 1)
    }
    // deterministic: same input → same bytes
    val a = Multimodal.resize(media, 16).collect().map(r => r.doc_id -> r.media.toSeq).toMap
    val b = Multimodal.resize(media, 16).collect().map(r => r.doc_id -> r.media.toSeq).toMap
    assert(a === b)
  }

  test("resize handles degenerate images (1×1, all-zero pixels) without crashing") {
    import spark.implicits._
    val degenerate = Seq(
      Multimodal.MediaRow(98L, "png", Multimodal.pngEncode(1, 1, Array(0.toByte))),
      Multimodal.MediaRow(99L, "png", Multimodal.pngEncode(32, 24, Array.ofDim[Byte](32 * 24)))).toDS()
    val out = Multimodal.resize(degenerate, maxDim = 16).collect()
      .map(r => r.doc_id -> r).toMap
    assert(out.size === 2)
    val meta = Multimodal.decodeMeta(Multimodal.resize(degenerate, 16)).collect()
      .map(m => m.doc_id -> m).toMap
    assert(meta(98L).width === 1 && meta(98L).height === 1)
    assert(meta(99L).width <= 16 && meta(99L).height <= 16)
    assert(meta(99L).mean_byte === 0.0)
  }

  test("feature extractor embeds decoded pixels as fixed-dim deterministic vectors") {
    val media = Multimodal.mediaTable(spark, dir)
    val f1 = Multimodal.extractFeatures(media, dim = 8).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[scala.collection.Seq[Float]]("features")).toMap
    assert(f1.nonEmpty)
    f1.values.foreach { v =>
      assert(v.length === 8)
      v.foreach(x => assert(x >= 0f && x <= 1.5f, x)) // pixel-stripe means land near [0,1]
    }
    // deterministic across runs (a real encoder must be too, given fixed weights)
    val f2 = Multimodal.extractFeatures(media, dim = 8).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[scala.collection.Seq[Float]]("features")).toMap
    assert(f1 === f2)
    // plugs into the existing vector machinery unchanged: cosine of a
    // feature vector with itself is 1
    val sims = Multimodal.extractFeatures(media, dim = 8)
      .select(expr("cosine_sim(cast(features as array<double>), cast(features as array<double>))").as("s"))
      .collect().map(_.getDouble(0))
    sims.foreach(s => assert(math.abs(s - 1.0) < 1e-9))
  }

  test("frame sampling keeps every k-th fixed-size frame of the decoded pixel stream") {
    val one = Multimodal.mediaTable(spark, dir).filter(col("doc_id") === 0L)
    val m = Multimodal.decodeMeta(one).collect()(0)
    val pixelLen = m.width.toLong * m.height
    val frames = Multimodal.sampleFrames(one, frameBytes = 32, everyK = 3).collect()
    val totalFrames = (pixelLen + 31) / 32
    val expected = (0L until totalFrames).count(_ % 3 == 0)
    assert(frames.length === expected)
    assert(frames.map(_.getAs[Int]("frame_idx")).forall(_ % 3 == 0))
  }

  test("wavEncode emits valid WAVs: the JDK sound codec decodes them sample-exactly") {
    val samples = Multimodal.samplesFor("audio fixture text", 300)
    val wav = Multimodal.wavEncode(16000, samples)
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val fmt = in.getFormat
    assert(fmt.getSampleRate === 16000f)
    assert(fmt.getChannels === 1)
    assert(fmt.getSampleSizeInBits === 16)
    assert(!fmt.isBigEndian)
    val raw = in.readAllBytes()
    assert(raw.length === samples.length * 2)
    val decoded = Array.tabulate(samples.length) { i =>
      ((raw(2 * i) & 0xff) | (raw(2 * i + 1) << 8)).toShort
    }
    assert(decoded.sameElements(samples))
    // and our own parser agrees with the JDK codec
    val (rate, ch, bits, parsed) = Multimodal.wavParse(wav)
    assert(rate === 16000 && ch === 1 && bits === 16)
    assert(parsed.sameElements(samples))
  }

  test("q145 waveform stats match a sequential reference on the tiny SF") {
    val dir = "/root/testdata/sf0.001"
    val got = Multimodal.q145AudioMeta(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_samples"), r.getAs[Long]("zero_cross"),
          r.getAs[Long]("energy")))).toMap
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "n_chars", "text").collect()
    assert(got.size === docs.length)
    docs.foreach { d =>
      val n = (d.getAs[Long]("n_chars") % 2000 + 100).toInt
      val s = Multimodal.samplesFor(d.getAs[String]("text"), n)
      val zc = (1 until n).count(i => s(i).toLong * s(i - 1) < 0).toLong
      val energy = s.map(v => v.toLong * v).sum
      assert(got(d.getAs[Long]("doc_id")) === ((n.toLong, zc, energy)),
        s"doc ${d.getAs[Long]("doc_id")}")
    }
  }
}
