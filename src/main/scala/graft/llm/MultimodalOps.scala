package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.LayoutOps

/** Multimodal column plumbing (SURVEY.md §2.8 X5).
  *
  * Media are opaque `BINARY` columns plus typed metadata. CONTAINER
  * work is real across all three modalities: image headers and pixels
  * (PNG/JPEG/GIF via [[ImageHeader]]/[[ImageCodec]]), audio
  * (RIFF/WAVE via [[AudioCodec]]), and video (ISO-BMFF box walk via
  * [[VideoCodec]] — metadata, sample tables, and sync-frame demux).
  * Only pixel/NAL DECODE of compressed video and the vision/audio
  * ENCODER models are stubbed (no codec/model libraries in this
  * environment) with clearly-labeled deterministic fakes — the
  * Spark-side plumbing (schema, partition-parallel batch iteration,
  * typed output) is real: swap [[FakeDecoder.decode]] for a JNI/codec
  * call and nothing else changes.
  */
object MultimodalOps {

  /** Typed metadata extracted per media blob. */
  final case class MediaMeta(
      doc_id: Long,
      blob_len: Long,
      width: Int,
      height: Int,
      channels: Int,
      mean_byte: Double)

  /** STUB decoder — deterministic pseudo-parse of a media header.
    * Marked clearly as fake: a real implementation decodes the codec
    * header and samples pixels/frames.
    */
  object FakeDecoder {
    def decode(id: Long, bytes: Array[Byte]): MediaMeta = {
      val b0 = if (bytes.length > 0) bytes(0) & 0xff else 0
      val b1 = if (bytes.length > 1) bytes(1) & 0xff else 0
      var s = 0L
      var i = 0
      while (i < bytes.length) { s += (bytes(i) & 0xff); i += 1 }
      MediaMeta(
        doc_id = id,
        blob_len = bytes.length.toLong,
        width = (b0 * 256 + b1) % 1024,
        height = (b1 * 256 + b0) % 1024,
        channels = 1 + (b0 % 3),
        mean_byte = if (bytes.isEmpty) 0.0 else s.toDouble / bytes.length)
    }
  }

  /** Decode a binary column partition-parallel. `mapPartitions` keeps
    * per-partition batching (one decoder init per partition, not per
    * row) — the Scala analogue of arrow-batched UDF iteration.
    *
    * Real PNG / JPEG / GIF blobs get their dimensions and channel
    * count parsed from the actual container header
    * ([[ImageHeader.parse]] — pure JVM, O(header) per blob);
    * unrecognized bytes (the text-as-blob fixtures the oracle checks)
    * fall back to the deterministic [[FakeDecoder]]. Pixel-level
    * decoding still needs a codec library and stays stubbed.
    */
  def decodeBlobs(df: DataFrame, idCol: String, blobCol: String): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder init would go here (real codecs are stateful)
        it.map { case (id, bytes) =>
          val b = Option(bytes).getOrElse(Array.empty[Byte])
          ImageHeader.parse(b) match {
            case Some((w, h, c)) =>
              var s = 0L
              var i = 0
              while (i < b.length) { s += (b(i) & 0xff); i += 1 }
              MediaMeta(id, b.length.toLong, w, h, c,
                if (b.isEmpty) 0.0 else s.toDouble / b.length)
            case None => FakeDecoder.decode(id, b)
          }
        }
      }
  }

  /** Build the multimodal view of the documents table: text recast as
    * the media blob (the container ships no real media), carrying
    * metadata columns through.
    */
  def documentsAsBlobs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), col(textCol).cast("binary").as("blob"))

  /** STUB perceptual hash (a real implementation is DCT-based pHash /
    * chromaprint): a 64-bit fingerprint packing the blob's byte-value
    * histogram — byte b of the fingerprint = (count of bytes ≡ b
    * mod 8) mod 128, little-endian. Deterministic pure byte
    * arithmetic, so an external SQL oracle recomputes it exactly; like
    * a real perceptual hash, near-identical media differ in few bits,
    * which is what Hamming-banded pairing
    * ([[graft.llm.DedupOps.simHashPairs]]) needs. Counts stay below
    * 128 so the packed value never sets bit 63.
    *
    * One linear codegen'd pass over the raw bytes
    * ([[graft.functions.ByteClassFingerprint]]), no UDF, no shuffle.
    * (The first formulation hexed the blob and probed each byte via
    * `substring(__hx, i*2-1, 2)` — O(len²) per document; measured 72 s
    * of a 153 s sf0.1 bench before being replaced.)
    */
  def pHashStub(blobs: DataFrame, idCol: String, blobCol: String): DataFrame =
    blobs.select(
      col(idCol).as("doc_id"),
      graft.functions.FingerprintFunctions.byteClassFingerprint(col(blobCol)).as("fp"))

  /** Pixel-decode tier — REAL codecs via the JDK's own `javax.imageio`
    * ([[ImageCodec]]): dimensions, channel count, and the integer
    * rec-601 luma sum `Σ (299·r + 587·g + 114·b) / 1000` (floor) over
    * the decoded pixels. Every output column is exact integer
    * arithmetic, so a SQL oracle replays it bit-for-bit (a float mean
    * rides summation-order ulps; an oracle gate on it needs rounding
    * that can still straddle a boundary). Non-image blobs produce no
    * rows (absent-row contract, like [[imageFeatures]]).
    */
  def decodeImagesExact(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        ImageCodec.read(Option(bytes).getOrElse(Array.empty[Byte])).map { img =>
          val (w, h) = (img.getWidth, img.getHeight)
          var lumaSum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              lumaSum += (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
                114 * (rgb & 0xff)) / 1000
              x += 1
            }
            y += 1
          }
          (id, w, h, img.getColorModel.getNumComponents, lumaSum, w.toLong * h)
        }
      })
      .toDF("doc_id", "width", "height", "channels", "luma_sum", "n_px")
  }

  /** REAL perceptual hash for image blobs — DCT pHash over decoded
    * pixels ([[ImageCodec.pHash]]); non-image blobs keep the
    * byte-class stub fingerprint so mixed corpora still fingerprint
    * every row. Output matches [[pHashStub]]'s `(doc_id, fp)` contract
    * and feeds the same Hamming banding.
    */
  def pHashImages(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val b = Option(bytes).getOrElse(Array.empty[Byte])
          id -> ImageCodec.pHash(b).getOrElse(
            graft.functions.ByteClassFingerprint.compute(b))
        }
      }
      .toDF("doc_id", "fp")
  }

  /** REAL resize for image blobs (bilinear, re-encoded PNG); the
    * deterministic byte-subsample stub for anything else.
    */
  def resizeImages(df: DataFrame, idCol: String, blobCol: String,
                   w: Int, h: Int): Dataset[ResizedMedia] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val b = Option(bytes).getOrElse(Array.empty[Byte])
          ImageCodec.resizePng(b, w, h) match {
            case Some(png) => ResizedMedia(id, w, h, png)
            case None => stubResize(id, b, w, h)
          }
        }
      }
  }

  /** Persisted pHash fingerprint artifact for the streaming image
    * gate — (doc_id, fp) through [[pHashImages]], stored once
    * batch-side with the standard corpus-signature reuse check (the
    * [[graft.llm.DedupOps.loadOrBuildMinHashGate]] gate-artifact
    * pattern). The table is ROW-INDEPENDENT (one fp per doc, no
    * cross-row state), so delta append is a plain union-write and
    * delete is a plain id filter — no banding/list surgery needed.
    */
  def loadOrBuildPhashGate(corpusBlobs: DataFrame, idCol: String, blobCol: String,
                           indexPath: String, rebuild: Boolean = false): DataFrame =
    IndexStore.loadOrBuild(corpusBlobs, "phash-gate:dct32x8", indexPath, rebuild) {
      pHashImages(corpusBlobs, idCol, blobCol)
    }

  /** X5+X6: stateless image ingest gate — incoming media probe a
    * STATIC pHash fingerprint table at Hamming 0 (fp equality ⇒ plain
    * stream-static equi-join, no banding machinery), then candidates
    * VERIFY against the stored corpus blobs by exact bytes (pHash
    * false positives are real — see `x5_image_phash_dups`). The
    * fingerprint is computed IN-ROW alongside the blob (one
    * `mapPartitions` pass; deriving it in a separate branch would make
    * the probe a stream-stream self-join and drag in state), so the
    * whole gate is stream-static joins only: no watermark, no state
    * store — the fourth stateless ingest gate beside Bloom
    * decontamination, ANN, and MinHash text near-dup.
    *
    * @return (in_id, corpus_id) — one row per byte-verified duplicate
    */
  def pHashGate(incoming: DataFrame, fingerprints: DataFrame, corpusBlobs: DataFrame,
                idCol: String = "doc_id", blobCol: String = "blob"): DataFrame = {
    val spark = incoming.sparkSession
    import spark.implicits._
    val probes = incoming.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val b = Option(bytes).getOrElse(Array.empty[Byte])
        (id, b, ImageCodec.pHash(b).getOrElse(
          graft.functions.ByteClassFingerprint.compute(b)))
      })
      .toDF("in_id", "in_blob", "fp")
    probes
      .join(fingerprints.select(col(idCol).cast("long").as("corpus_id"), col("fp")), "fp")
      .filter(col("in_id") =!= col("corpus_id"))
      .join(corpusBlobs.select(col(idCol).cast("long").as("corpus_id"),
        col(blobCol).as("corpus_blob")), "corpus_id")
      .filter(col("in_blob") === col("corpus_blob"))
      .select(col("in_id"), col("corpus_id"))
  }

  /** Weight-budget greedy packing — the media sibling of
    * [[graft.llm.TextOps.packGreedy]] (tokens → an arbitrary integer
    * weight column: pixels for images, samples for audio, bytes for
    * raw blobs): shard by id, accumulate weights in id order, cut a
    * new pack when the running sum crosses `budget`. Same scale
    * contract: every window partition is shard-bounded — pick `shards`
    * ≈ cluster parallelism and nothing sees a global order.
    */
  def packByWeight(df: DataFrame, idCol: String, weightCol: String,
                   budget: Long, shards: Int): DataFrame = {
    require(budget > 0 && shards > 0, "budget and shards must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol).as("doc_id"), col(weightCol).cast("long").as("weight"))
      .withColumn("shard", pmod(col("doc_id"), lit(shards.toLong)))
      .withColumn("cum_before", coalesce(sum(col("weight")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before div $budget"))
      .select("doc_id", "shard", "weight", "pack_id")
  }

  /** Fixed-size feature vector per media blob. */
  final case class MediaFeatures(doc_id: Long, features: Array[Float])

  /** STUB feature extraction (a real implementation runs a vision /
    * audio encoder): a deterministic 8-dim byte-histogram sketch.
    * Partition-parallel with one "model init" per partition — exactly
    * the batched-iterator shape a real encoder needs (load weights
    * once, stream the partition through).
    */
  def extractFeatures(df: DataFrame, idCol: String, blobCol: String): Dataset[MediaFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // real codec/model handle would be created HERE, once per partition
        it.map { case (id, bytes) =>
          val b = Option(bytes).getOrElse(Array.empty[Byte])
          val hist = new Array[Float](8)
          var i = 0
          while (i < b.length) { hist((b(i) & 0xff) >> 5) += 1f; i += 1 }
          val n = math.max(1, b.length).toFloat
          var j = 0
          while (j < 8) { hist(j) /= n; j += 1 }
          MediaFeatures(id, hist)
        }
      }
  }

  /** Resized media record: blob plus target geometry. */
  final case class ResizedMedia(doc_id: Long, width: Int, height: Int, blob: Array[Byte])

  /** STUB resize (a real implementation decodes, scales, re-encodes):
    * deterministic byte subsampling to `w*h` bytes, preserving the
    * partition-parallel plumbing and the binary-in/binary-out schema.
    */
  def resizeMedia(df: DataFrame, idCol: String, blobCol: String,
                  w: Int, h: Int): Dataset[ResizedMedia] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          stubResize(id, Option(bytes).getOrElse(Array.empty[Byte]), w, h)
        }
      }
  }

  private def stubResize(id: Long, b: Array[Byte], w: Int, h: Int): ResizedMedia = {
    val target = w * h
    val out = new Array[Byte](target)
    if (b.nonEmpty) {
      var i = 0
      while (i < target) { out(i) = b((i.toLong * b.length / target).toInt); i += 1 }
    }
    ResizedMedia(id, w, h, out)
  }

  /** One sampled frame of a (pretend) video blob. */
  final case class MediaFrame(doc_id: Long, frame_no: Int, frame: Array[Byte])

  /** STUB frame sampling (a real implementation seeks keyframes):
    * every `stride`-th fixed-size chunk becomes a "frame" row —
    * the one-to-many explode shape of video pipelines, with
    * partition-parallel iteration and bounded memory per row.
    */
  def sampleFrames(df: DataFrame, idCol: String, blobCol: String,
                   frameSize: Int, stride: Int): Dataset[MediaFrame] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val b = Option(bytes).getOrElse(Array.empty[Byte])
        val nFrames = b.length / frameSize
        (0 until nFrames by stride).map { f =>
          MediaFrame(id, f, java.util.Arrays.copyOfRange(b, f * frameSize, (f + 1) * frameSize))
        }
      }
  }

  // ----------------------------------------------------------------
  // Images (REAL PNG codec — javax.imageio via ImageCodec)
  // ----------------------------------------------------------------

  /** Deterministic synthetic PNG blob per document — the image
    * counterpart of [[documentsAsAudio]]/[[documentsAsVideo]]: the
    * testdata tables carry no images, so each doc synthesizes a real
    * grayscale-in-RGB PNG through the REAL JDK encoder
    * (`javax.imageio`) from the integer pixel field
    * {{{
    *   width  = 16 + doc_id mod 8        (16..23)
    *   height = 12 + doc_id mod 5        (12..16)
    *   v(x,y) = (doc_id·31 + y·13 + x·7) mod 256, r = g = b = v
    * }}}
    * PNG is lossless, so every decode downstream recovers v(x,y)
    * exactly — an external SQL oracle reproduces the DECODED pixels
    * from the spec without parsing PNG, while the Spark side
    * round-trips every pixel through the real encoder + decoder.
    */
  /** One synthetic PNG from the generator spec above — shared by
    * [[documentsAsImages]] and the streaming soak's media source
    * (tools/StreamSoak `image_gate`), so stream and batch rows are
    * byte-identical for the same id.
    */
  def synthImagePng(id: Long): Array[Byte] = {
    val w = 16 + (id % 8).toInt
    val h = 12 + (id % 5).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((id * 31 + y.toLong * 13 + x.toLong * 7) % 256).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    ImageCodec.writePng(img)
  }

  def documentsAsImages(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    LayoutOps.spread(docs.select(col(idCol).cast("long"))).as[Long]
      // 8-byte input rows, per-row work is the PNG encode — spread it
      .mapPartitions(_.map(id => (id, synthImagePng(id))))
      .toDF("doc_id", "blob")
  }

  /** REAL classical image features from decoded pixels — the
    * model-free screen a vision-curation pass runs before any encoder:
    * 8-bin gray histogram, total gray mass, and Sobel edge energy
    * (Σ |gx|+|gy| over interior pixels). Gray is the integer rec-601
    * luma `(299·r + 587·g + 114·b) / 1000` (floor), so every output is
    * exact integer arithmetic over the decoded pixels — a SQL oracle
    * replays it bit-for-bit. Non-image blobs produce no rows (absent-
    * row contract, like [[AudioCodec]] on non-RIFF bytes). This
    * retires [[extractFeatures]] as the feature story; that stub stays
    * as the labeled encoder-plumbing twin.
    */
  def imageFeatures(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        ImageCodec.read(Option(bytes).getOrElse(Array.empty[Byte])).map { img =>
          val (w, h) = (img.getWidth, img.getHeight)
          val g = Array.ofDim[Int](h, w)
          val hist = new Array[Long](8)
          var graySum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val v = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
                114 * (rgb & 0xff)) / 1000
              g(y)(x) = v
              hist(v >> 5) += 1
              graySum += v
              x += 1
            }
            y += 1
          }
          var edge = 0L
          var yy = 1
          while (yy < h - 1) {
            var xx = 1
            while (xx < w - 1) {
              val gx = (g(yy - 1)(xx + 1) + 2 * g(yy)(xx + 1) + g(yy + 1)(xx + 1)) -
                (g(yy - 1)(xx - 1) + 2 * g(yy)(xx - 1) + g(yy + 1)(xx - 1))
              val gy = (g(yy + 1)(xx - 1) + 2 * g(yy + 1)(xx) + g(yy + 1)(xx + 1)) -
                (g(yy - 1)(xx - 1) + 2 * g(yy - 1)(xx) + g(yy - 1)(xx + 1))
              edge += math.abs(gx) + math.abs(gy)
              xx += 1
            }
            yy += 1
          }
          (id, w, h, w.toLong * h, graySum,
            hist(0), hist(1), hist(2), hist(3), hist(4), hist(5), hist(6), hist(7),
            edge)
        }
      })
      .toDF("doc_id", "width", "height", "n_px", "gray_sum",
        "h0", "h1", "h2", "h3", "h4", "h5", "h6", "h7", "edge_energy")
  }

  /** REAL resize with exact semantics: integer box-filter downsample
    * by `factor` over decoded gray pixels (each output pixel is the
    * floor-mean of a full factor×factor block; partial edge blocks are
    * dropped), re-encoded through the REAL PNG writer. Unlike
    * [[ImageCodec.resizePng]] (Graphics2D bilinear — real but
    * renderer-defined), the box filter is spec-exact arithmetic, so a
    * downstream decode of the OUTPUT blob is SQL-replayable
    * end-to-end: encode → decode → filter → encode → decode with no
    * inexact step. Non-image blobs produce no rows.
    */
  def downsampleImages(df: DataFrame, idCol: String, blobCol: String,
                       factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        ImageCodec.read(Option(bytes).getOrElse(Array.empty[Byte])).flatMap { img =>
          val (w, h) = (img.getWidth, img.getHeight)
          val (ow, oh) = (w / factor, h / factor)
          if (ow == 0 || oh == 0) None
          else {
            val out = new java.awt.image.BufferedImage(
              ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var cy = 0
            while (cy < oh) {
              var cx = 0
              while (cx < ow) {
                var sum = 0L
                var dy = 0
                while (dy < factor) {
                  var dx = 0
                  while (dx < factor) {
                    val rgb = img.getRGB(cx * factor + dx, cy * factor + dy)
                    sum += (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
                      114 * (rgb & 0xff)) / 1000
                    dx += 1
                  }
                  dy += 1
                }
                val v = (sum / (factor.toLong * factor)).toInt
                out.setRGB(cx, cy, (v << 16) | (v << 8) | v)
                cx += 1
              }
              cy += 1
            }
            Some((id, ow, oh, ImageCodec.writePng(out)))
          }
        }
      })
      .toDF("doc_id", "width", "height", "blob")
  }

  // ----------------------------------------------------------------
  // Video (REAL ISO-BMFF container codec — VideoCodec box walk)
  // ----------------------------------------------------------------

  /** Deterministic synthetic MP4 blob per document — the video
    * counterpart of [[documentsAsAudio]]: the testdata tables carry no
    * video, so each doc synthesizes a real ISO-BMFF file through the
    * REAL writer ([[VideoCodec.buildMp4]]) from integer parameters:
    * {{{
    *   video track (always): codec avc1 (hev1 when doc_id mod 3 = 0),
    *     timescale 600, delta 25, n = 24 + doc_id mod 48 samples,
    *     width 320 + (doc_id mod 8)·16, height 240 + (doc_id mod 5)·16,
    *     sync every 12th sample,
    *     size_i = 64 + (doc_id·7 + i·13) mod 96,
    *     byte_{i,j} = (doc_id + i·31 + j·7) mod 256
    *   audio track (doc_id even): mp4a, timescale 8000, delta 1024,
    *     40 samples of 32 bytes, byte_{i,j} = (doc_id·3 + i·17 + j·5) mod 256
    * }}}
    * Pure integer arithmetic — an external SQL oracle reproduces every
    * PARSED value without touching ISO-BMFF, while the Spark side
    * round-trips every byte through the real writer + box-walk parser.
    */
  def documentsAsVideo(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    LayoutOps.spread(docs.select(col(idCol).cast("long"))).as[Long]
      // same fan-out rationale as documentsAsAudio: the input rows are
      // 8 bytes, the per-row work is the container build — round-robin
      // the ids so the writer work spreads across cores
      .mapPartitions(_.map { id =>
        val nV = 24 + (id % 48).toInt
        val video = VideoCodec.TrackSpec(
          trackId = 1, handler = "vide",
          codec = if (id % 3 == 0) "hev1" else "avc1",
          timescale = 600, sampleDelta = 25,
          width = 320 + (id % 8).toInt * 16, height = 240 + (id % 5).toInt * 16,
          sampleSizes = Array.tabulate(nV)(i => 64 + ((id * 7 + i.toLong * 13) % 96).toInt),
          syncEvery = 12)
        val tracks =
          if (id % 2 == 0)
            Seq(video, VideoCodec.TrackSpec(2, "soun", "mp4a", 8000, 1024, 0, 0,
              Array.fill(40)(32), syncEvery = 0))
          else Seq(video)
        val blob = VideoCodec.buildMp4(tracks, movieTimescale = 600, (ti, i, j) =>
          (if (ti == 0) (id + i.toLong * 31 + j.toLong * 7) % 256
           else (id * 3 + i.toLong * 17 + j.toLong * 5) % 256).toByte)
        (id, blob)
      })
      .toDF("doc_id", "blob")
  }

  /** Container metadata per (blob, track) from the REAL box walk —
    * what an ingest pipeline reads before deciding to decode anything:
    * brand, movie clock, per-track handler/codec fourcc, timescale,
    * duration, display dimensions, sample/sync counts, payload bytes.
    * Non-MP4 blobs produce no rows (same absent-row contract as
    * [[AudioCodec]] on non-RIFF bytes). `mapPartitions`, one parser
    * pass per blob, O(box tree) — no pixel decode.
    */
  def videoMeta(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        VideoCodec.parseMp4(Option(bytes).getOrElse(Array.empty[Byte])).toSeq.flatMap { m =>
          m.tracks.map { t =>
            (id, m.brand, m.timescale, m.duration, t.trackId, t.handler, t.codec,
              t.timescale, t.duration, t.width, t.height,
              t.nSamples, t.nSync, t.sampleBytesTotal)
          }
        }
      })
      .toDF("doc_id", "brand", "movie_timescale", "movie_duration", "track_id",
        "handler", "codec", "timescale", "duration", "width", "height",
        "n_samples", "n_sync", "sample_bytes")
  }

  /** Frame pixel spec shared by [[documentsAsMjpeg]] and its oracles:
    * a smooth gradient (no mod-256 wrap edges, so JPEG's DCT loss
    * stays small and bounded) that varies per document and per frame:
    * {{{
    *   w = 32 + (id mod 4)·16, h = 24 + (id mod 3)·8
    *   nFrames = 6 + id mod 6, sync every 3rd sample
    *   v(x,y,f) = x·2 + y·2 + f + (id mod 8)   (max 253 — never clips)
    * }}}
    * Closed-form per-frame gray sum (gray pixels decode to rec-601
    * luma v exactly): Σv = w·h·((f + id mod 8) + (w−1) + (h−1)).
    */
  def mjpegFramePixel(id: Long, f: Int, x: Int, y: Int): Int =
    x * 2 + y * 2 + f + (id % 8).toInt

  /** Deterministic synthetic MOTION-JPEG (or PNG-track) MP4 per
    * document: every video sample is a REAL compressed image encoded
    * through the JDK codec (`format` "jpg" → sample-entry fourcc
    * `jpeg`, the QuickTime motion-JPEG layout where each sample is a
    * complete JPEG interchange stream; "png" → fourcc `png `, the
    * QuickTime PNG video codec). Unlike [[documentsAsVideo]]'s opaque
    * payload bytes, these samples DECODE to real pixels downstream —
    * the "compressed video needs codec libs" stub narrows to codecs
    * the JVM doesn't ship (H.26x/AV1).
    */
  def documentsAsMjpeg(docs: DataFrame, idCol: String,
                       format: String = "jpg"): DataFrame = {
    require(format == "jpg" || format == "png", s"format must be jpg|png: $format")
    val fourcc = if (format == "jpg") "jpeg" else "png "
    val spark = docs.sparkSession
    import spark.implicits._
    LayoutOps.spread(docs.select(col(idCol).cast("long"))).as[Long]
      // same fan-out rationale as documentsAsVideo: 8-byte input rows,
      // per-row work is nFrames real image encodes
      .mapPartitions(_.map { id =>
        val w = 32 + (id % 4).toInt * 16
        val h = 24 + (id % 3).toInt * 8
        val nF = 6 + (id % 6).toInt
        val frames = Array.tabulate(nF) { f =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = mjpegFramePixel(id, f, x, y)
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          ImageCodec.write(img, format)
        }
        val track = VideoCodec.TrackSpec(
          trackId = 1, handler = "vide", codec = fourcc,
          timescale = 600, sampleDelta = 25, width = w, height = h,
          sampleSizes = frames.map(_.length), syncEvery = 3)
        (id, VideoCodec.buildMp4(Seq(track), movieTimescale = 600,
          (_, i, j) => frames(i)(j)))
      })
      .toDF("doc_id", "blob")
  }

  /** REAL compressed-video pixel decode: demux each blob's video-track
    * SYNC samples (full stsc/stco/stsz walk), decode every keyframe's
    * bytes through the REAL JDK image codec (JPEG for motion-JPEG
    * tracks, PNG for png-track files), and emit exact integer stats
    * over the DECODED pixels — codec fourcc, decoded dimensions,
    * pixel count, integer rec-601 gray sum. Keyframes that don't
    * decode produce no rows (absent-row contract). One mapPartitions
    * pass, O(pixels) per keyframe, no shuffle.
    */
  def videoFramePixels(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val b = Option(bytes).getOrElse(Array.empty[Byte])
        VideoCodec.parseMp4(b).toSeq.flatMap { m =>
          m.tracks.filter(_.handler == "vide").flatMap { t =>
            t.syncSamples.iterator.flatMap { s =>
              ImageCodec.read(VideoCodec.sampleData(b, t, s - 1)).map { img =>
                val (w, h) = (img.getWidth, img.getHeight)
                var graySum = 0L
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    val rgb = img.getRGB(x, y)
                    graySum += (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
                      114 * (rgb & 0xff)) / 1000
                    x += 1
                  }
                  y += 1
                }
                (id, t.codec, s, w, h, w.toLong * h, graySum)
              }
            }
          }
        }
      })
      .toDF("doc_id", "codec", "sample_no", "width", "height", "n_px", "gray_sum")
  }

  /** Keyframe decode-error screen against a reference pixel function —
    * the PSNR-floor QA gate a transcode pipeline runs (reference =
    * the source decode; here the integer generator spec): demux sync
    * samples, decode through the real codec, and report the MAX
    * absolute integer-luma error vs the reference. Exact-by-container
    * fields (dims, pixel count) ride along so an oracle can pin them
    * even when the lossy-codec error itself is only boundable.
    */
  def videoFrameRefError(df: DataFrame, idCol: String, blobCol: String)
                        (ref: (Long, Int, Int, Int) => Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val b = Option(bytes).getOrElse(Array.empty[Byte])
        VideoCodec.parseMp4(b).toSeq.flatMap { m =>
          m.tracks.filter(_.handler == "vide").flatMap { t =>
            t.syncSamples.iterator.flatMap { s =>
              ImageCodec.read(VideoCodec.sampleData(b, t, s - 1)).map { img =>
                val (w, h) = (img.getWidth, img.getHeight)
                var maxErr = 0L
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    val rgb = img.getRGB(x, y)
                    val v = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
                      114 * (rgb & 0xff)) / 1000
                    val e = math.abs(v - ref(id, s - 1, x, y))
                    if (e > maxErr) maxErr = e
                    x += 1
                  }
                  y += 1
                }
                (id, t.codec, s, w, h, w.toLong * h, maxErr)
              }
            }
          }
        }
      })
      .toDF("doc_id", "codec", "sample_no", "width", "height", "n_px", "max_abs_err")
  }

  /** REAL keyframe sampling: demux each blob's video track and emit
    * one row per SYNC sample (stss; the seek points a frame-sampling
    * pass decodes) — sample offsets come from the full stsc/stco/stsz
    * walk and the bytes are sliced out of mdat. Emits
    * (doc_id, sample_no 1-based, frame_len, byte_sum); the byte sum
    * stands in for the decode the environment has no codec for, while
    * proving the demux read exactly the right byte range.
    */
  def sampleSyncFrames(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val b = Option(bytes).getOrElse(Array.empty[Byte])
        VideoCodec.parseMp4(b).toSeq.flatMap { m =>
          m.tracks.filter(_.handler == "vide").flatMap { t =>
            t.syncSamples.iterator.map { s =>
              val frame = VideoCodec.sampleData(b, t, s - 1)
              var sum = 0L
              var j = 0
              while (j < frame.length) { sum += (frame(j) & 0xff); j += 1 }
              (id, s, frame.length.toLong, sum)
            }
          }
        }
      })
      .toDF("doc_id", "sample_no", "frame_len", "byte_sum")
  }

  // ----------------------------------------------------------------
  // Audio (REAL RIFF/WAVE codec via javax.sound — AudioCodec)
  // ----------------------------------------------------------------

  /** Deterministic synthetic WAV blob per document — the audio
    * counterpart of [[documentsAsBlobs]]: the testdata tables carry no
    * audio, so each doc synthesizes a mono 8 kHz PCM-s16le clip
    * through the REAL RIFF writer ([[AudioCodec.buildWavPcm16]]) from
    * the integer waveform
    * {{{
    *   n_samples = 200 + (doc_id mod 100)
    *   sample_i  = ((doc_id·31 + i·7) mod 2048 − 1024) · ((i div 160) mod 2)
    * }}}
    * — even 160-sample windows are digital silence, odd ones are loud,
    * so voice-activity shapes have both classes to find. Pure integer
    * arithmetic: an external SQL oracle reproduces the DECODED samples
    * exactly without parsing RIFF, while the Spark side still
    * round-trips every byte through the codec.
    */
  def documentsAsAudio(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    LayoutOps.spread(docs.select(col(idCol).cast("long"))).as[Long]
      // The downstream codec passes are CPU-bound at ~0.2 ms/clip while
      // the row here is 8 bytes: a corpus-sized parquet scan often
      // lands in ONE input split (files.maxPartitionBytes is sized for
      // data volume, not decode cost), which serializes every decode.
      // Round-robin the ids across the cluster first — the shuffle
      // moves ids only, the codec work fans out per-core (measured
      // 12.0 → ~1 s on 50k clips at sf1).
      .mapPartitions(_.map { id =>
        val n = 200 + (id % 100).toInt
        val samples = Array.tabulate(n) { i =>
          ((((id * 31 + i.toLong * 7) % 2048) - 1024) * ((i / 160) % 2)).toShort
        }
        (id, AudioCodec.buildWavPcm16(8000, samples))
      })
      .toDF("doc_id", "blob")
  }

  /** Per-clip decoded audio statistics. All integer: `duration_us` and
    * `silence_ppm` are exact integer divisions, `sum_sq` the exact
    * energy numerator (callers derive RMS when they want floats).
    */
  final case class AudioStats(doc_id: Long, sample_rate: Long, n_samples: Long,
                              duration_us: Long, peak_abs: Long, sum_sq: Long,
                              silence_ppm: Long)

  /** X5 (audio): REAL decode of a WAV blob column via the JDK codec,
    * reduced to per-clip stats in the same pass — the
    * decode-then-summarize shape audio curation runs before ASR
    * (length/clipping/silence screens). One `mapPartitions` over the
    * blobs, O(samples) per row, no shuffle; undecodable blobs
    * fail fast with the doc id (an ingest gate wants the error, not a
    * silent null row).
    */
  def audioStats(df: DataFrame, idCol: String, blobCol: String,
                 silenceThreshold: Int = 64): Dataset[AudioStats] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (rate, samples) = AudioCodec.parseWavPcm16(bytes)
          .getOrElse(throw new IllegalArgumentException(
            s"doc $id: blob is not decodable mono PCM s16le WAV"))
        var peak = 0L; var sumSq = 0L; var silent = 0L
        var i = 0
        while (i < samples.length) {
          val s = samples(i).toLong
          val a = math.abs(s)
          if (a > peak) peak = a
          sumSq += s * s
          if (a < silenceThreshold) silent += 1
          i += 1
        }
        val n = samples.length.toLong
        AudioStats(id, rate.toLong, n, n * 1000000L / rate, peak, sumSq,
          if (n == 0) 0L else silent * 1000000L / n)
      })
  }

  /** Resample accounting row: the clip before/after upsampling. */
  final case class AudioResample(doc_id: Long, in_rate: Long, out_rate: Long,
                                 n_in: Long, n_out: Long, out_peak: Long,
                                 out_sum_sq: Long)

  /** X5 (audio): EXACT 2× upsampling — the sample-rate normalization
    * step speech pipelines run before a fixed-rate model (8 kHz
    * telephony → 16 kHz ASR): even output samples copy the input,
    * odd ones are the truncated midpoint of their neighbors
    * (`(s_i + s_{i+1}) / 2` in Java semantics — truncation toward
    * zero, the SAME rule as Spark's `div` and DuckDB's `//`, so the
    * arithmetic is engine-exact for negative samples too; floorDiv
    * would silently disagree with both engines' integer division on
    * odd negative sums). The
    * upsampled clip is re-encoded AND re-parsed through the codec —
    * the full write/read round trip a materialized resample pays —
    * and summarized with the same exact integer stats as
    * [[audioStats]]. Linear in samples, one mapPartitions pass.
    */
  def audioUpsample2x(df: DataFrame, idCol: String, blobCol: String)
      : Dataset[AudioResample] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (rate, s) = AudioCodec.parseWavPcm16(bytes)
          .getOrElse(throw new IllegalArgumentException(
            s"doc $id: blob is not decodable mono PCM s16le WAV"))
        val n = s.length
        val out = new Array[Short](if (n == 0) 0 else 2 * n - 1)
        var i = 0
        while (i < n) {
          out(2 * i) = s(i)
          if (i + 1 < n)
            out(2 * i + 1) = ((s(i) + s(i + 1)) / 2).toShort
          i += 1
        }
        val (outRate, parsed) = AudioCodec.parseWavPcm16(
            AudioCodec.buildWavPcm16(rate * 2, out))
          .getOrElse(throw new IllegalStateException(
            s"doc $id: re-encoded resample failed to parse"))
        var peak = 0L; var sumSq = 0L
        i = 0
        while (i < parsed.length) {
          val v = parsed(i).toLong
          val a = math.abs(v)
          if (a > peak) peak = a
          sumSq += v * v
          i += 1
        }
        AudioResample(id, rate.toLong, outRate.toLong, n.toLong,
          parsed.length.toLong, peak, sumSq)
      })
  }

  /** One fixed-size analysis window of a decoded clip. */
  final case class AudioWindow(doc_id: Long, win_no: Long, n: Long,
                               sum_sq: Long, peak_abs: Long, is_silent: Boolean)

  /** X5 (audio): energy windowing / voice-activity shape — decode via
    * the JDK codec, split into `windowSamples`-sample frames (last
    * partial frame kept), emit exact per-window energy and a silence
    * verdict (`peak < silenceThreshold`). The one-to-many explode
    * shape of VAD/diarization front-ends; partition-parallel, bounded
    * memory per clip.
    */
  def audioEnergyWindows(df: DataFrame, idCol: String, blobCol: String,
                         windowSamples: Int, silenceThreshold: Int = 64)
      : Dataset[AudioWindow] = {
    require(windowSamples > 0, "windowSamples must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val (_, samples) = AudioCodec.parseWavPcm16(bytes)
          .getOrElse(throw new IllegalArgumentException(
            s"doc $id: blob is not decodable mono PCM s16le WAV"))
        samples.grouped(windowSamples).zipWithIndex.map { case (win, w) =>
          var peak = 0L; var sumSq = 0L
          var i = 0
          while (i < win.length) {
            val s = win(i).toLong
            val a = math.abs(s)
            if (a > peak) peak = a
            sumSq += s * s
            i += 1
          }
          AudioWindow(id, w.toLong, win.length.toLong, sumSq, peak,
            peak < silenceThreshold)
        }
      }
  }
}
