package graft

import graft.ext.MultimodalStub
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The multimodal pipeline's plumbing contract: binary payload schema,
  * batch-shaped partition-local decode, deterministic stub features.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def docs = {
    import spark.implicits._
    Seq(
      (0L, "hello world"),
      (1L, "key agg row scan"),
      (2L, "")
    ).toDF("doc_id", "text")
  }

  test("feature schema: doc_id, n_bytes, dims, 16-bin histogram") {
    val out = MultimodalStub.features(docs)
    assert(out.columns.toSeq ===
      Seq("doc_id", "n_bytes", "width", "height", "histogram"))
    assert(out.count() === 3)
  }

  test("decode is deterministic and matches a direct in-memory run") {
    val viaSpark = MultimodalStub.features(docs)
      .select("doc_id", "n_bytes", "width", "height")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    val direct = Seq((0L, "hello world"), (1L, "key agg row scan"), (2L, ""))
      .map { case (id, t) => MultimodalStub.decodeStub(id, t.getBytes("UTF-8")) }
      .map(f => (f.doc_id, f.n_bytes, f.width, f.height)).toSet
    assert(viaSpark === direct)
  }

  test("histogram is normalized (sums to 1 for non-empty payloads)") {
    val sums = MultimodalStub.features(docs.filter(length(col("text")) > 0))
      .select(col("doc_id"), expr("aggregate(histogram, cast(0 as double), (a, x) -> a + x)").as("s"))
      .collect().map(_.getDouble(1))
    assert(sums.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("empty payload decodes to zero histogram, not NaN") {
    val h = MultimodalStub.features(docs.filter(col("doc_id") === 2))
      .select("histogram").head().getSeq[Double](0)
    assert(h.forall(_ == 0.0))
  }

  /** A real in-memory PNG: `w`×`h`, every pixel the same gray level. */
  private def png(w: Int, h: Int, gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("codec feature flag: the same pipeline runs a real imageio decode") {
    // the production shape behind spark.graft.multimodal.codec —
    // identical schema/batching, real pixel dimensions and a luminance
    // histogram instead of stub byte features
    import spark.implicits._
    val assets = Seq(
      (10L, png(8, 4, gray = 40)),   // luma 40 → bin 2
      (11L, png(3, 5, gray = 250))   // luma 250 → bin 15
    ).toDF("doc_id", "data")
    TestSpark.withConf(MultimodalStub.CodecFlag -> "imageio") {
      val rows = MultimodalStub.features(assets, payloadCol = "data")
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(2), r.getInt(3)), r.getSeq[Double](4)))
        .toMap
      assert(rows(10L)._1 === ((8, 4)))   // REAL dimensions, not stub hash
      assert(rows(11L)._1 === ((3, 5)))
      // solid-gray image: all luminance mass in one bin
      assert(rows(10L)._2(2) === 1.0 && rows(10L)._2.sum === 1.0)
      assert(rows(11L)._2(15) === 1.0 && rows(11L)._2.sum === 1.0)
    }
  }

  test("golden file: checked-in PNG bytes decode to pinned luminance features") {
    // The round-trip tests above (encode with THIS JDK, decode with
    // THIS JDK) would pass through a silent behavior change in the
    // JDK's codecs. This fixture's bytes are CHECKED IN
    // (src/test/resources/golden_8x8.png: 8×8 RGB, pixel (x,y) =
    // (36x, 36y, 18(x+y)) mod 256, written by an independent encoder),
    // and the expected histogram below is hand-derived from those pixel
    // values via decodeImage's exact integer luma —
    // lum = (299r + 587g + 114b)/1000, bin = lum >> 4 — so ANY
    // deviation in the decode path (a JDK upgrade reinterpreting color
    // space, a luma-math edit) fails this test instead of shipping
    // changed production features. PNG is lossless: every correct
    // decoder must reproduce these exact pixels.
    val in = getClass.getResourceAsStream("/golden_8x8.png")
    assert(in != null, "golden fixture missing from test resources")
    val bytes = in.readAllBytes()
    in.close()
    assert(bytes.length === 189) // fixture integrity: not truncated/rewritten
    val f = MultimodalStub.decodeImage(99L, bytes)
    assert(f.width === 8 && f.height === 8)
    val expectedCounts =
      Seq(2, 2, 3, 4, 5, 6, 5, 5, 6, 6, 5, 5, 4, 2, 3, 1)
    assert(f.histogram.toSeq === expectedCounts.map(_ / 64.0))
    // and through the full Spark pipeline under the imageio flag
    import spark.implicits._
    val viaPipeline = MultimodalStub.features(
      Seq((99L, bytes)).toDF("doc_id", "data"),
      payloadCol = "data", codec = Some("imageio"))
      .select("width", "height", "histogram").head()
    assert(viaPipeline.getInt(0) === 8 && viaPipeline.getInt(1) === 8)
    assert(viaPipeline.getSeq[Double](2) === expectedCounts.map(_ / 64.0))
  }

  test("unknown codec names fail on the driver, not mid-job") {
    val e = intercept[IllegalArgumentException] {
      MultimodalStub.features(docs, codec = Some("ffmpeg"))
    }
    assert(e.getMessage.contains("unknown multimodal codec"))
  }

  test("frame sampling: every 4th 128-byte frame, 32-byte prefix, exact sums") {
    // 600 bytes of value 1: frames 0 (offset 0, full 32-byte read) and
    // 4 (offset 512, truncated to the remaining 88 bytes → 32-byte read
    // still fits); frame 8 would start at 1024 > len, so exactly 2 rows
    val bytes = Array.fill[Byte](600)(1)
    val frames = MultimodalStub.sampleFrames(7L, bytes)
    assert(frames.map(f => (f.frame_idx, f.byte_offset, f.n_bytes, f.byte_sum)) ===
      Seq((0L, 0L, 32L, 32L), (4L, 512L, 32L, 32L)))
    // a short tail frame truncates its read
    val tail = MultimodalStub.sampleFrames(8L, Array.fill[Byte](530)(2))
    assert(tail.last === MultimodalStub.FrameSample(8L, 4L, 512L, 18L, 36L))
    // sub-frame payloads emit exactly one frame
    assert(MultimodalStub.sampleFrames(9L, Array.fill[Byte](5)(3)) ===
      Seq(MultimodalStub.FrameSample(9L, 0L, 0L, 5L, 15L)))
    // empty payloads emit none
    assert(MultimodalStub.sampleFrames(10L, Array.empty[Byte]) === Seq.empty)
  }

  test("resize: stub strides are identity below budget, monotone above; real path scales") {
    // below the 64-byte budget the sample IS the payload
    val small = Array.tabulate[Byte](10)(i => (i + 1).toByte)
    assert(MultimodalStub.resampleStub(1L, small) ===
      Some(MultimodalStub.Thumb(1L, 10L, 55L, 1L, 10L)))
    // above budget: exactly 64 strictly-increasing positions
    val big = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    val t = MultimodalStub.resampleStub(2L, big).get
    assert(t.n_sampled === 64L)
    val ref = (0 until 64).map(i => big((i * 1000) / 64) & 0xff)
    assert(t.thumb_sum === ref.map(_.toLong).sum)
    assert(t.thumb_min === ref.min.toLong && t.thumb_max === ref.max.toLong)
    assert(MultimodalStub.resampleStub(3L, Array.empty[Byte]) === None)

    // the REAL resize: a generated 32×32 image scales to an 8×8 thumb
    // whose features come from the same decode path
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 32).foreach(y => (0 until 32).foreach(x =>
      img.setRGB(x, y, if ((x + y) % 2 == 0) 0xFFFFFF else 0x000000)))
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val thumb = MultimodalStub.resizeImage(4L, buf.toByteArray, 8, 8)
    assert(thumb.width === 8 && thumb.height === 8)
    assert(math.abs(thumb.histogram.sum - 1.0) < 1e-9)
  }
}
