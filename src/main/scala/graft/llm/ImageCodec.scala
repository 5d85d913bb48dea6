package graft.llm

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

/** REAL pixel-level image operations on the JDK's own codecs
  * (`javax.imageio` reads PNG/JPEG/GIF/BMP pure-JVM, no native deps) —
  * the "swap the stub for a codec" step the multimodal plumbing was
  * designed for. Each helper is driver-free and stateless, called from
  * `mapPartitions` so a partition pays one class-load, then streams.
  *
  * [[pHash]] is the standard DCT perceptual hash (pHash.org
  * construction): grayscale → 32×32 area-average resize → 2D DCT-II →
  * top-left 8×8 low-frequency block (skipping DC) → bit per
  * coefficient above the median. Near-identical images differ in few
  * bits, so the same Hamming-banded pairing used for SimHash applies.
  */
object ImageCodec {

  // ImageIO's default stream cache is DISK-backed: every read/write of
  // an in-memory blob creates (and deletes) a temp FILE. At corpus
  // grain that is one file-system round-trip per image per pass —
  // measured ~2-4x the whole decode cost at 5k imgs × 32 threads.
  // Memory-cached streams remove it. Scoped PER CALL (explicit
  // MemoryCache image streams below) rather than the JVM-global
  // `ImageIO.setUseCache(false)` flag an earlier revision set at class
  // load — an embedding application's own ImageIO usage keeps whatever
  // cache policy it chose.

  /** Encode through a REAL JDK image writer (memory-cached stream —
    * see the cache note above). `format` is an ImageIO format name
    * ("png" lossless, "jpg" lossy).
    */
  def write(img: BufferedImage, format: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    try {
      if (!ImageIO.write(img, format, ios))
        throw new IllegalArgumentException(s"no ImageIO writer for format '$format'")
      ios.flush()
    } finally ios.close()
    bos.toByteArray
  }

  /** Encode through the REAL JDK PNG writer (lossless). */
  def writePng(img: BufferedImage): Array[Byte] = write(img, "png")

  /** Decode through a REAL JDK image reader — None if the JDK has no
    * reader for the bytes.
    */
  def read(bytes: Array[Byte]): Option[BufferedImage] = {
    // Passing an ImageInputStream (not a raw InputStream) keeps the
    // read on the per-call memory cache regardless of the JVM-global
    // ImageIO cache flag. ImageIO.read(ImageInputStream) closes the
    // stream in a finally whenever a reader was selected (success AND
    // read-exception paths); it leaves the stream open only when no
    // reader matched the bytes (returns null). The cleanup close below
    // covers that no-reader path and must swallow the "already closed"
    // IOException from the paths the JDK closed itself.
    val iis = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    val out = try Option(ImageIO.read(iis))
              catch { case _: Exception => None }
    try iis.close() catch { case _: Exception => () }
    out
  }

  private def luma(rgb: Int): Double = {
    val r = (rgb >> 16) & 0xff
    val g = (rgb >> 8) & 0xff
    val b = rgb & 0xff
    0.299 * r + 0.587 * g + 0.114 * b
  }

  /** Real resize (bilinear Graphics2D draw) re-encoded as PNG. */
  def resizePng(bytes: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
    read(bytes).map { img =>
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
          RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      writePng(out)
    }

  /** Grayscale area-average downsample to `n`×`n` doubles. */
  private def grayResize(img: BufferedImage, n: Int): Array[Double] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val sums = new Array[Double](n * n)
    val counts = new Array[Long](n * n)
    var y = 0
    while (y < h) {
      val cy = math.min(n - 1, y.toLong * n / h).toInt
      var x = 0
      while (x < w) {
        val cx = math.min(n - 1, x.toLong * n / w).toInt
        sums(cy * n + cx) += luma(img.getRGB(x, y))
        counts(cy * n + cx) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(n * n)(i => if (counts(i) == 0) 0.0 else sums(i) / counts(i))
  }

  /** Separable 2D DCT-II of an n×n block (textbook O(n³) — n is 32). */
  private def dct2(px: Array[Double], n: Int): Array[Double] = {
    val cos = Array.tabulate(n, n)((k, i) => math.cos((2 * i + 1) * k * math.Pi / (2.0 * n)))
    val rows = new Array[Double](n * n)
    for (y <- 0 until n; k <- 0 until n) {
      var s = 0.0
      var i = 0
      while (i < n) { s += px(y * n + i) * cos(k)(i); i += 1 }
      rows(y * n + k) = s
    }
    val out = new Array[Double](n * n)
    for (k2 <- 0 until n; k <- 0 until n) {
      var s = 0.0
      var i = 0
      while (i < n) { s += rows(i * n + k) * cos(k2)(i); i += 1 }
      out(k2 * n + k) = s
    }
    out
  }

  /** 64-bit DCT perceptual hash; None if the bytes don't decode. */
  def pHash(bytes: Array[Byte]): Option[Long] =
    read(bytes).map { img =>
      val n = 32
      val freq = dct2(grayResize(img, n), n)
      // 8×8 low-frequency block, skipping the DC term
      val block = (for (y <- 0 until 8; x <- 0 until 8 if !(x == 0 && y == 0))
        yield freq(y * n + x)).toArray
      val sorted = block.sorted
      val median = sorted(block.length / 2)
      var hash = 0L
      var i = 0
      while (i < block.length) {
        if (block(i) > median) hash |= 1L << i
        i += 1
      }
      hash
    }
}
