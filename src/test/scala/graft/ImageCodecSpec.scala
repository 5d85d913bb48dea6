package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import graft.llm.{ImageCodec, MultimodalOps}

/** The real pixel tier: decode, resize, and DCT pHash run on genuine
  * JDK-encoded images. pHash must be invariant-ish under re-encoding
  * and small perturbations, and far for unrelated content — the
  * properties Hamming banding relies on.
  */
class ImageCodecSpec extends SparkSpec {
  import spark.implicits._

  // pixel values stay <= 200 so a +10 brightness shift never clips
  private def gradient(w: Int, h: Int, seed: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) {
      val v = (x * 200 / w + seed) % 201
      img.setRGB(x, y, (v << 16) | ((y * 200 / h) << 8) | ((v + y) % 201))
    }
    img
  }

  private def noise(w: Int, h: Int, seed: Long): BufferedImage = {
    val rnd = new scala.util.Random(seed)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rnd.nextInt())
    img
  }

  private def bytes(img: BufferedImage, fmt: String = "png"): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("read decodes real pixels: dimensions and channels, None for non-images") {
    val img = ImageCodec.read(bytes(gradient(40, 30, 0))).get
    (img.getWidth, img.getHeight, img.getColorModel.getNumComponents) shouldBe ((40, 30, 3))
    ImageCodec.read("not an image".getBytes("UTF-8")) shouldBe None
  }

  test("resizePng really resizes: output decodes to the target geometry") {
    val resized = ImageCodec.read(ImageCodec.resizePng(bytes(gradient(64, 48, 0)), 16, 12).get).get
    (resized.getWidth, resized.getHeight) shouldBe ((16, 12))
  }

  test("pHash: stable under re-encode and small noise, far for unrelated images") {
    val base = gradient(64, 64, 0)
    val h1 = ImageCodec.pHash(bytes(base)).get
    // identical pixels, different lossless container -> identical hash
    ImageCodec.pHash(bytes(base, "bmp")).get shouldBe h1
    // lossy JPEG re-encode of the same image -> near hash (GIF is not
    // tested as "near": 24-bit -> 256-color palette quantization is a
    // structural transform, not a perturbation)
    hamming(ImageCodec.pHash(bytes(base, "jpg")).get, h1) should be <= 6
    // global brightness shift only moves the (skipped) DC term -> near
    val brighter = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 64; y <- 0 until 64) {
      val rgb = base.getRGB(x, y)
      def lift(v: Int) = math.min(255, v + 10)
      brighter.setRGB(x, y,
        (lift((rgb >> 16) & 0xff) << 16) | (lift((rgb >> 8) & 0xff) << 8) | lift(rgb & 0xff))
    }
    hamming(ImageCodec.pHash(bytes(brighter)).get, h1) should be <= 4
    // unrelated noise image -> far
    hamming(ImageCodec.pHash(bytes(noise(64, 64, 7L))).get, h1) should be >= 20
  }

  test("real ops fall back to stubs on non-image blobs, partition-parallel") {
    val grad = gradient(20, 10, 0)
    val png = bytes(grad)
    val txt = "text blob".getBytes("UTF-8")
    val df = Seq((1L, png), (2L, txt)).toDF("doc_id", "blob").repartition(2)

    // exact decode: the PNG row carries its geometry and the floor
    // rec-601 luma sum of the source pixels; the text row is absent
    val metas = MultimodalOps.decodeImagesExact(df, "doc_id", "blob")
      .collect().map(r => r.getLong(0) -> r).toMap
    metas.keySet shouldBe Set(1L)
    val m = metas(1L)
    (m.getInt(1), m.getInt(2), m.getInt(3)) shouldBe ((20, 10, 3))
    val lumaSum = (for (x <- 0 until 20; y <- 0 until 10) yield {
      val rgb = grad.getRGB(x, y)
      (299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)) / 1000
    }).sum
    m.getLong(4) shouldBe lumaSum

    val fps = MultimodalOps.pHashImages(df, "doc_id", "blob")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fps(1L) shouldBe ImageCodec.pHash(png).get
    fps(2L) shouldBe graft.functions.ByteClassFingerprint.compute(txt)

    val rs = MultimodalOps.resizeImages(df, "doc_id", "blob", 8, 8)
      .collect().map(r => r.doc_id -> r).toMap
    val small = ImageCodec.read(rs(1L).blob).get
    (small.getWidth, small.getHeight) shouldBe ((8, 8))
    rs(2L).blob.length shouldBe 64 // stub subsample path
  }

  test("documentsAsImages: real PNGs that decode back to the exact pixel spec") {
    val docs = Seq(3L, 10L, 257L).toDF("doc_id")
    val blobs = MultimodalOps.documentsAsImages(docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    for ((id, blob) <- blobs) {
      val img = ImageCodec.read(blob).get
      img.getWidth shouldBe (16 + id % 8).toInt
      img.getHeight shouldBe (12 + id % 5).toInt
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val v = ((id * 31 + y * 13 + x * 7) % 256).toInt
        img.getRGB(x, y) & 0xffffff shouldBe ((v << 16) | (v << 8) | v)
      }
    }
  }

  test("imageFeatures: exact integer histogram + Sobel on a hand-checked image") {
    // 3x3 constant image: all-gray v => one histogram bin, zero edges
    val flat = new BufferedImage(3, 3, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 3; y <- 0 until 3) flat.setRGB(x, y, 0x646464) // v = 100
    // 3x3 vertical step: left column 0, right column 200 => known Sobel
    val step = new BufferedImage(3, 3, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 3) {
      step.setRGB(0, y, 0); step.setRGB(1, y, 0x646464); step.setRGB(2, y, 0xc8c8c8)
    }
    val df = Seq((1L, bytes(flat)), (2L, bytes(step)),
      (3L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "blob")
    val rows = MultimodalOps.imageFeatures(df, "doc_id", "blob")
      .collect().map(r => r.getLong(0) -> r).toMap
    rows should not contain key(3L) // absent-row contract on non-images
    val f1 = rows(1L)
    (f1.getInt(1), f1.getInt(2), f1.getLong(3)) shouldBe ((3, 3, 9L))
    f1.getLong(4) shouldBe 900L                    // gray_sum = 9 * 100
    f1.getLong(5 + (100 >> 5)) shouldBe 9L         // all mass in bin 3
    f1.getLong(13) shouldBe 0L                     // flat => no edges
    val f2 = rows(2L)
    // single interior pixel: gx = (200+400+200) - 0 = 800, gy = 0
    f2.getLong(13) shouldBe 800L
    f2.getLong(4) shouldBe 3L * (0 + 100 + 200)
  }

  test("downsampleImages: floor-mean box filter, exact through re-encode") {
    // 8x4, factor 4 => 2x1 output; block means are exact integer checks
    val img = new BufferedImage(8, 4, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 8; y <- 0 until 4) {
      val v = x * 10 + y // left block mean floor: (0..3 + rows)..; compute below
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    // block (cx=0): v over x in 0..3, y in 0..3 -> sum = sum(10x) * 4 + sum(y) * 4
    val left = ((0 to 3).map(_ * 10).sum * 4 + (0 to 3).sum * 4) / 16
    val right = ((4 to 7).map(_ * 10).sum * 4 + (0 to 3).sum * 4) / 16
    val out = MultimodalOps.downsampleImages(
        Seq((7L, bytes(img))).toDF("doc_id", "blob"), "doc_id", "blob", 4)
      .collect()
    out.length shouldBe 1
    val r = out.head
    (r.getInt(1), r.getInt(2)) shouldBe ((2, 1))
    val dec = ImageCodec.read(r.getAs[Array[Byte]](3)).get
    (dec.getRGB(0, 0) & 0xff, dec.getRGB(1, 0) & 0xff) shouldBe ((left, right))
  }
}
