package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.{Seeds, Sources}

/** RunLog, RateLimit, Sources (multi-format), Multimodal plumbing. */
class OpsSpec extends SparkSpec {

  test("run log records started/succeeded with timing") {
    val path = tmpDir("runlog") + "/log"
    val out = RunLog.tracked(spark, path, "run1", "stage_a") { 42 }
    assert(out == 42)
    val rows = spark.read.parquet(path).orderBy("logged_at", "status").collect()
    assert(rows.map(_.getAs[String]("status")).toSet == Set("started", "succeeded"))
  }

  test("run log records failure detail and rethrows") {
    val path = tmpDir("runlog2") + "/log"
    intercept[RuntimeException] {
      RunLog.tracked(spark, path, "run1", "boom")(throw new RuntimeException("nope"))
    }
    val failed = spark.read.parquet(path).filter(col("status") === "failed").collect()
    assert(failed.length == 1 && failed.head.getAs[String]("detail") == "nope")
  }

  test("run log: Spark-appended and direct entries read as one table, timestamps exact") {
    import spark.implicits._
    val dir = tmpDir("runlog3")
    val ts = java.sql.Timestamp.valueOf("2026-03-04 05:06:07.123456")
    val old = RunLog.Entry("r0", "s", "succeeded", "", 12L, ts)
    // how entries were appended before RunLog wrote its own files
    def appendOld(path: String): Unit =
      Seq(old).toDF().write.mode(org.apache.spark.sql.SaveMode.Append).parquet(path)
    appendOld(s"$dir/old")
    appendOld(s"$dir/mixed")
    RunLog.log(spark, s"$dir/mixed", old.copy(run_id = "r1"))
    RunLog.log(spark, s"$dir/mixed", old.copy(run_id = "r2", detail = null, logged_at = null))
    RunLog.log(spark, s"$dir/new", old)
    val schema = spark.read.parquet(s"$dir/old").schema
    assert(spark.read.parquet(s"$dir/mixed").schema == schema)
    assert(spark.read.parquet(s"$dir/new").schema == schema)
    val rows = spark.read.parquet(s"$dir/mixed").as[RunLog.Entry].collect().sortBy(_.run_id)
    assert(rows.toSeq == Seq(old, old.copy(run_id = "r1"),
      old.copy(run_id = "r2", detail = null, logged_at = null)))
  }

  test("run log: concurrent writers share one path and leave only whole entries") {
    val path = tmpDir("runlog4") + "/log"
    val go = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() =>
        try { go.await(); RunLog.tracked(spark, path, s"run$i", "stage")(i) }
        catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join())
    assert(errors.isEmpty, errors)
    val rows = spark.read.parquet(path).collect()
    assert(rows.length == 8)
    assert(rows.map(r => (r.getAs[String]("run_id"), r.getAs[String]("status"))).toSet ==
      (1 to 4).flatMap(i => Seq(s"run$i" -> "started", s"run$i" -> "succeeded")).toSet)
    val names = new java.io.File(path).list().toSeq
    assert(!names.exists(_.contains("_tmp-")), names)
    assert(names.count(_.endsWith(".parquet")) == 8, names)
  }

  test("throttledMap preserves values and enforces the per-partition rate") {
    import spark.implicits._
    val ds = spark.range(10).map(_.toLong).repartition(1)
    val t0 = System.nanoTime()
    val out = RateLimit.throttledMap(ds, maxPerSecond = 100.0)(_ * 2).collect().sorted
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(out.toSeq == (0L until 10L).map(_ * 2))
    // 10 rows at 100/s ⇒ ≥ ~90ms of pacing
    assert(elapsedMs >= 80, s"ran too fast for the rate limit: $elapsedMs ms")
  }

  test("csv/json/orc round-trip through Sources") {
    val dir = tmpDir("formats")
    val df = Seeds.fromMaps(spark, Seq(
      Map("k" -> "a", "n" -> 1), Map("k" -> "b", "n" -> 2)))
    df.write.option("header", true).csv(s"$dir/c")
    df.write.orc(s"$dir/o")
    df.write.json(s"$dir/j")
    assert(Sources.csv(spark, s"$dir/c", schemaDdl = Some("k string, n bigint")).count() == 2)
    assert(Sources.orc(spark, s"$dir/o").count() == 2)
    assert(Sources.json(spark, s"$dir/j").count() == 2)
    val typed = Sources.csv(spark, s"$dir/c", schemaDdl = Some("k string, n bigint"))
    assert(typed.schema("n").dataType.typeName == "long")
  }

  test("text and binaryFile sources feed the corpus/multimodal paths") {
    val dir = tmpDir("rawsrc")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.txt"),
      "line one" + "\n" + "line two" + "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.txt"), "single doc body")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/img.bin"),
      Array[Byte](1, 2, 3, 4, 5))
    assert(Sources.text(spark, s"$dir/*.txt").count() == 3) // per line
    assert(Sources.text(spark, s"$dir/*.txt", wholeFile = true).count() == 2) // per file
    val bin = Sources.binaryFiles(spark, dir, glob = "*.bin").collect()
    assert(bin.length == 1)
    assert(bin.head.getAs[Long]("length") == 5L)
    assert(bin.head.getAs[Array[Byte]]("content").toSeq == Seq[Byte](1, 2, 3, 4, 5))
  }

  test("multimodal: video decode is real, frame sampling shapes output") {
    import spark.implicits._
    def gif(nFrames: Int, seed: Int) = Multimodal.grayFramesToGif(4, 3,
      (0 until nFrames).map(f => Array.tabulate(12)(p => (seed + 31 * f + p) % 256)))
    val media = Seq(
      Multimodal.Media(1L, "video", gif(1, 5), 4, 3, 0, 1),
      Multimodal.Media(2L, "video", gif(10, 9), 4, 3, 0, 10)
    ).toDS()
    val feats = Multimodal.extractFeatures(spark, media, dim = 16, frameStride = 3)
    val rows = feats.collect()
    // single-frame clip → frame 0; 10-frame clip at stride 3 → 0,3,6,9
    assert(rows.count(_.media_id == 1L) == 1)
    assert(rows.filter(_.media_id == 2L).map(_.frame).sorted.toSeq == Seq(0, 3, 6, 9))
    assert(rows.forall(_.features.length == 16))
    // determinism
    val again = Multimodal.extractFeatures(spark, media, dim = 16, frameStride = 3)
      .collect().sortBy(r => (r.media_id, r.frame))
    val first = rows.sortBy(r => (r.media_id, r.frame))
    assert(first.zip(again).forall { case (a, b) => a.features.sameElements(b.features) })
    // features feed the ANN surface
    val embedded = Multimodal.withFeatureColumn(feats)
    assert(embedded.columns.toSeq == Seq("media_id", "frame", "embedding"))
  }

  test("decodeGifFrames composites optimized update-rect frames (delta GIF)") {
    import javax.imageio._
    import javax.imageio.metadata.IIOMetadataNode
    val gray = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
    def img(w: Int, h: Int, px: Array[Int]) = {
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      var p = 0
      while (p < px.length) { im.getRaster.setSample(p % w, p / w, 0, px(p)); p += 1 }
      im
    }
    // hand-build an OPTIMIZED gif: full 8x6 base frame, then a 3x2 update
    // rect at (2,3) — the shape the JDK reader returns raw and a naive
    // per-frame read would mis-report as a 3x2 "frame"
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(ImageWriteParam.MODE_DISABLED)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    def writeFrame(im: java.awt.image.BufferedImage, x: Int, y: Int): Unit = {
      val md = writer.getDefaultImageMetadata(new ImageTypeSpecifier(im), param)
      val fmt = "javax_imageio_gif_image_1.0"
      val root = md.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      val desc = root.getElementsByTagName("ImageDescriptor").item(0)
        .asInstanceOf[IIOMetadataNode]
      desc.setAttribute("imageLeftPosition", x.toString)
      desc.setAttribute("imageTopPosition", y.toString)
      md.setFromTree(fmt, root)
      writer.writeToSequence(new IIOImage(im, null, md), param)
    }
    val base = Array.tabulate(48)(p => p % 256)
    writeFrame(img(8, 6, base), 0, 0)
    writeFrame(img(3, 2, Array.fill(6)(200)), 2, 3)
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    val (w, h, frames) = Multimodal.decodeGifFrames(bos.toByteArray)
    assert((w, h) == (8, 6), s"screen dims: got ($w, $h)")
    assert(frames.length == 2 && frames.forall(_.length == 48),
      "every composited frame must be a full-screen raster")
    assert(frames(0).toSeq == base.toSeq)
    val expect = base.clone()
    for (dy <- 0 until 2; dx <- 0 until 3) expect((3 + dy) * 8 + (2 + dx)) = 200
    assert(frames(1).toSeq == expect.toSeq, "delta frame not composited onto the canvas")
  }

  test("extractFeatures rejects unknown media kinds with the actual defect") {
    import spark.implicits._
    val media = Seq(Multimodal.Media(7L, "vdeo", Array[Byte](1, 2, 3), 0, 0, 0, 1)).toDS()
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.extractFeatures(spark, media, dim = 8).collect()
    }
    val msg = Option(e.getCause).fold(e.getMessage)(_.getMessage)
    assert(msg.contains("unknown kind") && msg.contains("vdeo"), s"got: $msg")
  }

  test("multimodal features flow into ANN similarity search end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 30 single-frame clips with distinct pixel ramps -> features -> top-3
    val media = (1L to 30L).map(i =>
      Multimodal.Media(i, "video", Multimodal.grayFramesToGif(8, 8,
        Seq(Array.tabulate(64)(p => ((i * 13 + p * 7) % 256).toInt))), 8, 8, 0, 1)).toDS()
    val feats = Multimodal.extractFeatures(spark, media, dim = 16)
    val corpus = Multimodal.withFeatureColumn(feats)
      .select(col("media_id").as("vec_id"),
        expr("transform(embedding, x -> CAST(x AS FLOAT))").as("embedding"))
    val queries = corpus.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val top = Ann.bruteTopK(queries, corpus, k = 3)
    val rows = top.collect()
    assert(rows.length == 9) // 3 queries x 3 neighbors
    assert(rows.forall(r => r.getLong(0) != r.getLong(2))) // no self-match
    assert(rows.forall(r => r.getDouble(3) <= 1.000001))
  }

  test("resize updates metadata dims") {
    import spark.implicits._
    val media = Seq(Multimodal.Media(1L, "image", Array[Byte](1, 2), 640, 480, 0, 1)).toDS()
    val r = Multimodal.resize(spark, media, 64, 64).collect().head
    assert(r.width == 64 && r.height == 64)
  }

  test("WAV round-trip: encode → decode recovers rate, channels, every sample") {
    val rnd = new scala.util.Random(42)
    for (n <- Seq(1, 7, 1000); rate <- Seq(8000, 16000, 44100)) {
      val samples = Array.fill(n)(rnd.nextInt(65536).toShort)
      // boundary values must survive the signed round-trip
      samples(0) = Short.MinValue
      if (n > 1) samples(1) = Short.MaxValue
      val wav = Multimodal.pcm16ToWav(samples, rate)
      val (r, ch, back) = Multimodal.decodeWavPcm16(wav)
      assert(r == rate && ch == 1)
      assert(back.sameElements(samples), s"samples differ at n=$n rate=$rate")
    }
  }

  test("decodeWavPcm16 rejects non-PCM16 input loudly") {
    intercept[Exception] { Multimodal.decodeWavPcm16("not a wav".getBytes) }
  }

  test("PNG round-trip: encode → decode recovers dims and every channel value") {
    val rnd = new scala.util.Random(7)
    for ((w, h) <- Seq((1, 1), (5, 3), (16, 16))) {
      val rgb = Array.fill(w * h * 3)(rnd.nextInt(256))
      val png = Multimodal.rgbToPng(w, h, rgb)
      // a real container came out, not a raw buffer: PNG magic bytes
      assert(png.take(4).toSeq == Seq[Byte](0x89.toByte, 'P', 'N', 'G'))
      val (dw, dh, back) = Multimodal.decodeImageRgb(png)
      assert(dw == w && dh == h)
      assert(back.sameElements(rgb), s"channels differ at ${w}x$h")
    }
  }

  test("decodeImageRgb rejects non-image input loudly") {
    intercept[Exception] { Multimodal.decodeImageRgb("not a png".getBytes) }
  }

  test("animated-GIF round-trip: encode → decode recovers every frame's pixels") {
    val rnd = new scala.util.Random(11)
    // heights < 5 pin the interlace bug class: the JDK writer's DEFAULT
    // interlaced mode corrupts images shorter than its first-pass stride
    // (rows land on wrong scanlines, tail rows drop) — grayFramesToGif
    // must keep progressive mode disabled
    for (n <- Seq(1, 4, 12); (w, h) <- Seq((7, 5), (4, 3), (2, 2), (8, 4))) {
      val frames = (0 until n).map(_ => Array.fill(w * h)(rnd.nextInt(256)))
      val gif = Multimodal.grayFramesToGif(w, h, frames)
      // a real container came out: GIF magic bytes
      assert(gif.take(3).toSeq == "GIF".getBytes.toSeq)
      val (dw, dh, back) = Multimodal.decodeGifFrames(gif)
      assert(dw == w && dh == h && back.length == n,
        s"n=$n ${w}x$h decoded ${back.length} frames at ${dw}x$dh")
      frames.zip(back).foreach { case (a, b) => assert(b.sameElements(a)) }
    }
  }

  test("decodeGifFrames rejects non-video bytes loudly") {
    intercept[Exception] { Multimodal.decodeGifFrames("not a gif".getBytes) }
  }

  test("video kind runs the REAL decode path in extractFeatures") {
    import spark.implicits._
    // two 4x3 constant-gray frames: each of the 4 buckets sums
    // (3 px × 3·v)/256 exactly — dyadic, bit-exact per frame
    val frames = Seq(Array.fill(12)(32), Array.fill(12)(64))
    val media = Seq(Multimodal.Media(7L, "video",
      Multimodal.grayFramesToGif(4, 3, frames), 4, 3, 0, 2)).toDS()
    val feats = Multimodal.extractFeatures(spark, media, dim = 4).collect().sortBy(_.frame)
    assert(feats.map(_.frame).toSeq == Seq(0, 1))
    assert(feats(0).features.toSeq == Seq.fill(4)(3 * 3 * 32 / 256.0))
    assert(feats(1).features.toSeq == Seq.fill(4)(3 * 3 * 64 / 256.0))
  }

  test("image kind runs the REAL decode path in extractFeatures") {
    import spark.implicits._
    // a 4x2 image whose every channel is 32: each of the 4 buckets sums
    // (2 pixels × 3·32)/256 exactly — dyadic, bit-exact
    val rgb = Array.fill(4 * 2 * 3)(32)
    val media = Seq(Multimodal.Media(5L, "image",
      Multimodal.rgbToPng(4, 2, rgb), 4, 2, 0, 1)).toDS()
    val feats = Multimodal.extractFeatures(spark, media, dim = 4).collect()
    assert(feats.length == 1)
    assert(feats.head.features.toSeq == Seq.fill(4)(2 * 3 * 32 / 256.0))
  }

  test("audio kind runs the REAL decode path in extractFeatures") {
    import spark.implicits._
    // a clip whose every sample is 32: each of the 4 buckets sums
    // (n/4 samples × 32)/32768 exactly — dyadic, bit-exact
    val samples = Array.fill(64)(32.toShort)
    val media = Seq(Multimodal.Media(9L, "audio",
      Multimodal.pcm16ToWav(samples, 16000), 0, 0, 16000, 1)).toDS()
    val feats = Multimodal.extractFeatures(spark, media, dim = 4).collect()
    assert(feats.length == 1)
    assert(feats.head.features.toSeq == Seq.fill(4)(16 * 32 / 32768.0))
  }
}
