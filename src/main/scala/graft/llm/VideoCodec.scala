package graft.llm

import java.io.ByteArrayOutputStream

/** Minimal REAL ISO-BMFF (MP4) container codec — the video counterpart
  * of [[AudioCodec]]'s RIFF/WAVE pair: a spec-correct writer that emits
  * genuine boxes (ftyp / mdat / moov with full track + sample tables)
  * and a genuine box-walk parser that recovers movie/track metadata and
  * per-sample byte ranges from any conforming file, not just our own.
  *
  * Structure follows the PUBLIC container spec (ISO/IEC 14496-12 box
  * grammar: 32-bit big-endian size + fourcc, size==1 → 64-bit
  * largesize, containers moov/trak/mdia/minf/stbl; mvhd/tkhd/mdhd
  * version 0 and 1 layouts; sample tables stsd/stts/stsc/stsz/stco/
  * co64/stss; stss ABSENT ⇒ every sample is a sync sample). The writer
  * lays `mdat` out BEFORE `moov` (legal and common for non-streaming
  * files) so chunk offsets are known without a patch pass — one chunk
  * per track, tracks in declaration order.
  *
  * No pixel/NAL decoding happens here (no codec libraries in this
  * environment — the `avc1`/`hev1` sample entries carry no decoder
  * config box); everything the CONTAINER itself carries (dimensions,
  * durations, timescales, handler, codec fourcc, sample sizes and
  * offsets, sync table) is written and parsed for real.
  */
object VideoCodec {

  // ------------------------------------------------------------ writing

  private def u32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def u16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def fourcc(s: String): Array[Byte] = {
    require(s.length == 4, s"fourcc must be 4 chars: '$s'")
    s.getBytes("ISO-8859-1")
  }

  /** `size + type + payload` box (compact 32-bit size form). */
  private def box(tpe: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.foldLeft(Array.empty[Byte])(_ ++ _)
    u32(8L + body.length) ++ fourcc(tpe) ++ body
  }

  /** FullBox: box + (version, 24-bit flags) header word. */
  private def fullBox(tpe: String, version: Int, flags: Int,
                      payload: Array[Byte]*): Array[Byte] =
    box(tpe, Array(version.toByte, ((flags >> 16) & 0xff).toByte,
      ((flags >> 8) & 0xff).toByte, (flags & 0xff).toByte)
      +: payload: _*)

  /** One track to write: `handler` is "vide" or "soun", `codec` the
    * sample-entry fourcc (e.g. "avc1", "hev1", "mp4a"), `syncEvery`
    * writes an stss marking every k-th sample (1-based) as sync —
    * 0 omits stss (spec: all samples sync).
    */
  final case class TrackSpec(trackId: Int, handler: String, codec: String,
                             timescale: Long, sampleDelta: Long,
                             width: Int, height: Int,
                             sampleSizes: Array[Int], syncEvery: Int)

  private val unityMatrix: Array[Byte] =
    u32(0x10000L) ++ u32(0) ++ u32(0) ++
      u32(0) ++ u32(0x10000L) ++ u32(0) ++
      u32(0) ++ u32(0) ++ u32(0x40000000L)

  private def sampleEntry(t: TrackSpec): Array[Byte] = {
    val header = Array.fill[Byte](6)(0) ++ u16(1) // reserved + data_reference_index
    if (t.handler == "vide")
      // VisualSampleEntry (86 bytes): pre_defined/reserved, width,
      // height, 72/72 dpi, frame_count 1, 32-byte compressorname,
      // depth 24, pre_defined -1. No decoder-config child (no codec
      // libs here) — the container structure is complete.
      box(t.codec, header,
        Array.fill[Byte](16)(0),
        u16(t.width), u16(t.height),
        u32(0x480000L), u32(0x480000L), u32(0), u16(1),
        Array.fill[Byte](32)(0),
        u16(24), u16(0xffff))
    else
      // AudioSampleEntry: 2×u32 reserved, channelcount 1, samplesize
      // 16, pre_defined/reserved, samplerate << 16
      box(t.codec, header,
        u32(0), u32(0), u16(1), u16(16), u16(0), u16(0),
        u32(t.timescale << 16))
  }

  private def stblBox(t: TrackSpec, chunkOffset: Long): Array[Byte] = {
    val n = t.sampleSizes.length
    val stsd = fullBox("stsd", 0, 0, u32(1), sampleEntry(t))
    val stts = fullBox("stts", 0, 0, u32(1), u32(n.toLong), u32(t.sampleDelta))
    val stsc = fullBox("stsc", 0, 0, u32(1), u32(1), u32(n.toLong), u32(1))
    val stsz = fullBox("stsz", 0, 0, u32(0), u32(n.toLong),
      t.sampleSizes.flatMap(sz => u32(sz.toLong)))
    val stco = fullBox("stco", 0, 0, u32(1), u32(chunkOffset))
    val stss =
      if (t.syncEvery <= 0) Array.empty[Byte]
      else {
        val syncs = (1 to n by t.syncEvery).toArray
        fullBox("stss", 0, 0, u32(syncs.length.toLong),
          syncs.flatMap(s => u32(s.toLong)))
      }
    box("stbl", stsd, stts, stsc, stsz, stss, stco)
  }

  private def trakBox(t: TrackSpec, movieTimescale: Long, chunkOffset: Long): Array[Byte] = {
    val mediaDuration = t.sampleSizes.length.toLong * t.sampleDelta
    val trackDuration = mediaDuration * movieTimescale / t.timescale
    val tkhd = fullBox("tkhd", 0, 3, // enabled + in-movie
      u32(0), u32(0), u32(t.trackId.toLong), u32(0), u32(trackDuration),
      u32(0), u32(0), u16(0), u16(0),
      u16(if (t.handler == "soun") 0x0100 else 0), u16(0),
      unityMatrix,
      u32(t.width.toLong << 16), u32(t.height.toLong << 16))
    val mdhd = fullBox("mdhd", 0, 0,
      u32(0), u32(0), u32(t.timescale), u32(mediaDuration),
      u16(0x55c4), u16(0)) // language 'und'
    val hdlr = fullBox("hdlr", 0, 0,
      u32(0), fourcc(t.handler), u32(0), u32(0), u32(0),
      (t.handler + " handler").getBytes("ISO-8859-1") :+ 0.toByte)
    val mhd =
      if (t.handler == "vide") fullBox("vmhd", 0, 1, u16(0), u16(0), u16(0), u16(0))
      else fullBox("smhd", 0, 0, u16(0), u16(0))
    val dinf = box("dinf", fullBox("dref", 0, 0, u32(1), fullBox("url ", 0, 1)))
    val minf = box("minf", mhd, dinf, stblBox(t, chunkOffset))
    val mdia = box("mdia", mdhd, hdlr, minf)
    box("trak", tkhd, mdia)
  }

  /** Write a complete MP4: `ftyp` + `mdat` (one chunk per track, in
    * track order; `sampleBytes(trackIdx, sampleIdx, byteIdx)` supplies
    * the payload) + `moov`. The movie duration is the longest track's
    * duration expressed in `movieTimescale`.
    */
  def buildMp4(tracks: Seq[TrackSpec], movieTimescale: Long,
               sampleBytes: (Int, Int, Int) => Byte): Array[Byte] = {
    require(tracks.nonEmpty, "at least one track")
    val ftyp = box("ftyp", fourcc("isom"), u32(0x200), fourcc("isom"), fourcc("mp42"))
    val payload = new ByteArrayOutputStream()
    val chunkOffsets = new Array[Long](tracks.length)
    tracks.zipWithIndex.foreach { case (t, ti) =>
      chunkOffsets(ti) = ftyp.length.toLong + 8L + payload.size()
      var i = 0
      while (i < t.sampleSizes.length) {
        var j = 0
        while (j < t.sampleSizes(i)) { payload.write(sampleBytes(ti, i, j)); j += 1 }
        i += 1
      }
    }
    val mdat = box("mdat", payload.toByteArray)
    val movieDuration = tracks.map(t =>
      t.sampleSizes.length.toLong * t.sampleDelta * movieTimescale / t.timescale).max
    val mvhd = fullBox("mvhd", 0, 0,
      u32(0), u32(0), u32(movieTimescale), u32(movieDuration),
      u32(0x10000L), u16(0x0100), u16(0), u32(0), u32(0),
      unityMatrix,
      Array.fill[Byte](24)(0), // pre_defined
      u32(tracks.map(_.trackId).max.toLong + 1))
    val moov = box("moov",
      mvhd +: tracks.zipWithIndex.map { case (t, ti) =>
        trakBox(t, movieTimescale, chunkOffsets(ti))
      }: _*)
    ftyp ++ mdat ++ moov
  }

  // ------------------------------------------------------------ parsing

  /** Parsed per-track metadata. `nSync` follows the spec: with no stss
    * box every sample is a sync sample. `sampleOffsets` are absolute
    * file offsets derived from the full stsc/stco/stsz walk.
    */
  final case class TrackMeta(trackId: Long, handler: String, codec: String,
                             timescale: Long, duration: Long,
                             width: Int, height: Int,
                             sampleSizes: Array[Int], sampleOffsets: Array[Long],
                             syncSamples: Array[Int]) {
    def nSamples: Long = sampleSizes.length.toLong
    def nSync: Long = syncSamples.length.toLong
    def sampleBytesTotal: Long = { var s = 0L; var i = 0
      while (i < sampleSizes.length) { s += sampleSizes(i); i += 1 }; s }
  }

  final case class MovieMeta(brand: String, timescale: Long, duration: Long,
                             tracks: Seq[TrackMeta])

  private def rdU32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def rdU64(b: Array[Byte], o: Int): Long =
    (rdU32(b, o) << 32) | rdU32(b, o + 4)

  private def rdType(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "ISO-8859-1")

  /** Iterate the boxes of `b[start, end)`: (type, payloadStart,
    * payloadEnd). Handles the 64-bit largesize form; a malformed size
    * ends the walk (parser never throws on garbage — callers get what
    * was recoverable).
    */
  private def boxes(b: Array[Byte], start: Int, end: Int): Seq[(String, Int, Int)] = {
    val out = Seq.newBuilder[(String, Int, Int)]
    var o = start
    while (o + 8 <= end) {
      val size32 = rdU32(b, o)
      val tpe = rdType(b, o + 4)
      val (payloadStart, boxSize) =
        if (size32 == 1L && o + 16 <= end) (o + 16, rdU64(b, o + 8))
        else if (size32 == 0L) (o + 8, (end - o).toLong) // box runs to EOF
        else (o + 8, size32)
      if (boxSize < 8 || o + boxSize > end) { o = end } // malformed: stop
      else {
        out += ((tpe, payloadStart, o + boxSize.toInt))
        o += boxSize.toInt
      }
    }
    out.result()
  }

  private def find(bs: Seq[(String, Int, Int)], tpe: String): Option[(Int, Int)] =
    bs.collectFirst { case (`tpe`, s, e) => (s, e) }

  /** Per-sample absolute file offsets from the sample tables — the
    * standard stsc walk: stsc runs map chunks → samples-per-chunk,
    * stco/co64 give chunk starts, sizes accumulate within a chunk.
    */
  private def sampleOffsets(sizes: Array[Int], stsc: Array[(Long, Long)],
                            chunkOffs: Array[Long]): Array[Long] = {
    val out = new Array[Long](sizes.length)
    var sample = 0
    var run = 0
    var chunk = 1L
    while (sample < sizes.length && chunk <= chunkOffs.length) {
      val perChunk = if (run < stsc.length) stsc(run)._2 else 1L
      val nextFirst = if (run + 1 < stsc.length) stsc(run + 1)._1 else Long.MaxValue
      var off = chunkOffs((chunk - 1).toInt)
      var k = 0L
      while (k < perChunk && sample < sizes.length) {
        out(sample) = off
        off += sizes(sample)
        sample += 1
        k += 1
      }
      chunk += 1
      if (chunk >= nextFirst) run += 1
    }
    out
  }

  private def parseTrak(b: Array[Byte], s: Int, e: Int): Option[TrackMeta] = {
    val tb = boxes(b, s, e)
    val tkhd = find(tb, "tkhd")
    val mdia = find(tb, "mdia").map { case (ms, me) => boxes(b, ms, me) }
    if (tkhd.isEmpty || mdia.isEmpty) return None
    val (ts0, _) = tkhd.get
    val tkhdV = b(ts0) & 0xff
    // v0: ctime(4) mtime(4) id(4) res(4) dur(4); v1: 8/8/4/4/8
    val (trackId, afterDur) =
      if (tkhdV == 1) (rdU32(b, ts0 + 4 + 16), ts0 + 4 + 32)
      else (rdU32(b, ts0 + 4 + 8), ts0 + 4 + 20)
    // reserved(8) layer(2) alt(2) volume(2) res(2) matrix(36) width(4) height(4)
    val width = (rdU32(b, afterDur + 16 + 36) >> 16).toInt
    val height = (rdU32(b, afterDur + 16 + 40) >> 16).toInt
    val mb = mdia.get
    val mdhd = find(mb, "mdhd")
    val hdlr = find(mb, "hdlr")
    val stbl = find(mb, "minf").map { case (ms, me) =>
      find(boxes(b, ms, me), "stbl")
    }.flatten
    if (mdhd.isEmpty || hdlr.isEmpty || stbl.isEmpty) return None
    val (mo, _) = mdhd.get
    val mdhdV = b(mo) & 0xff
    val (timescale, duration) =
      if (mdhdV == 1) (rdU32(b, mo + 4 + 16), rdU64(b, mo + 4 + 20))
      else (rdU32(b, mo + 4 + 8), rdU32(b, mo + 4 + 12))
    val handler = rdType(b, hdlr.get._1 + 8)
    val sb = boxes(b, stbl.get._1, stbl.get._2)
    val codec = find(sb, "stsd").map { case (so, _) =>
      // fullbox header(4) + entry_count(4) + first entry: size(4) fourcc(4)
      rdType(b, so + 12)
    }.getOrElse("")
    val sizes = find(sb, "stsz").map { case (so, _) =>
      val fixed = rdU32(b, so + 4)
      val n = rdU32(b, so + 8).toInt
      if (fixed != 0L) Array.fill(n)(fixed.toInt)
      else Array.tabulate(n)(i => rdU32(b, so + 12 + 4 * i).toInt)
    }.getOrElse(Array.empty[Int])
    val stscRuns = find(sb, "stsc").map { case (so, _) =>
      val n = rdU32(b, so + 4).toInt
      Array.tabulate(n)(i => (rdU32(b, so + 8 + 12 * i), rdU32(b, so + 12 + 12 * i)))
    }.getOrElse(Array.empty[(Long, Long)])
    val chunkOffs = find(sb, "stco").map { case (so, _) =>
      val n = rdU32(b, so + 4).toInt
      Array.tabulate(n)(i => rdU32(b, so + 8 + 4 * i))
    }.orElse(find(sb, "co64").map { case (so, _) =>
      val n = rdU32(b, so + 4).toInt
      Array.tabulate(n)(i => rdU64(b, so + 8 + 8 * i))
    }).getOrElse(Array.empty[Long])
    val sync = find(sb, "stss") match {
      case Some((so, _)) =>
        val n = rdU32(b, so + 4).toInt
        Array.tabulate(n)(i => rdU32(b, so + 8 + 4 * i).toInt)
      case None => Array.tabulate(sizes.length)(_ + 1) // spec: all sync
    }
    Some(TrackMeta(trackId, handler, codec, timescale, duration,
      width, height, sizes, sampleOffsets(sizes, stscRuns, chunkOffs), sync))
  }

  /** Box-walk parse of a conforming ISO-BMFF file: None when no valid
    * moov/mvhd is present (not an MP4 — callers fall back, the same
    * contract as [[ImageHeader.parse]]).
    */
  def parseMp4(bytes: Array[Byte]): Option[MovieMeta] = {
    if (bytes == null || bytes.length < 16) return None
    val top = boxes(bytes, 0, bytes.length)
    val brand = find(top, "ftyp").map { case (s, _) => rdType(bytes, s) }.getOrElse("")
    find(top, "moov").flatMap { case (ms, me) =>
      val mb = boxes(bytes, ms, me)
      find(mb, "mvhd").map { case (mo, _) =>
        val v = bytes(mo) & 0xff
        val (timescale, duration) =
          if (v == 1) (rdU32(bytes, mo + 4 + 16), rdU64(bytes, mo + 4 + 20))
          else (rdU32(bytes, mo + 4 + 8), rdU32(bytes, mo + 4 + 12))
        val tracks = mb.collect { case ("trak", s, e) => parseTrak(bytes, s, e) }.flatten
        MovieMeta(brand, timescale, duration, tracks)
      }
    }
  }

  /** Slice sample `i` (0-based) of `track` out of the file bytes —
    * the demux read a frame-sampling pass does per selected sample.
    */
  def sampleData(bytes: Array[Byte], track: TrackMeta, i: Int): Array[Byte] = {
    val off = track.sampleOffsets(i)
    val len = track.sampleSizes(i)
    if (off < 0 || off + len > bytes.length) Array.empty[Byte]
    else java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
  }
}
