package graft.sources.mat

import java.io.{DataOutputStream, FileOutputStream, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Minimal MATLAB Level 5 MAT-file codec — the on-disk format the
  * reference ingests through `scipy.io.loadmat`
  * (`/root/reference/DFW/tools.py:58-79`). Implemented from the public
  * "MAT-File Format" specification (MathWorks R2019b, chapter 1), not
  * from any reader's source.
  *
  * Scope (all the reference's data model needs — SURVEY.md §1.1):
  *  - little-endian files, version 0x0100
  *  - top-level variables that are 2-D numeric matrices or cell arrays
  *    of 2-D numeric matrices (`x`/`r` per-class cell layout)
  *  - numeric payloads miINT8/UINT8/INT16/UINT16/INT32/UINT32/SINGLE/
  *    DOUBLE/INT64/UINT64, all widened to DOUBLE
  *  - the "small data element" packed tag format (scipy emits it for
  *    names and dimensions)
  *
  * Out of scope, rejected with a clear error: big-endian files,
  * miCOMPRESSED elements (scipy's `do_compression=False` default
  * writes raw), sparse/char/struct/object classes.
  *
  * The structure scan reads only element TAGS (seeking over payloads),
  * so planning cost is O(#variables), independent of data volume; the
  * recorded absolute payload offsets let each read partition seek
  * straight to its own matrix.
  */
object MatV5 {

  // data element type codes (spec table 1-1)
  val MiInt8 = 1; val MiUInt8 = 2; val MiInt16 = 3; val MiUInt16 = 4
  val MiInt32 = 5; val MiUInt32 = 6; val MiSingle = 7; val MiDouble = 9
  val MiInt64 = 12; val MiUInt64 = 13; val MiMatrix = 14; val MiCompressed = 15

  // array class codes (spec table 1-3)
  val MxCell = 1; val MxDouble = 6; val MxSingle = 7
  val MxInt8 = 8; val MxUInt8 = 9; val MxInt16 = 10; val MxUInt16 = 11
  val MxInt32 = 12; val MxUInt32 = 13; val MxInt64 = 14; val MxUInt64 = 15

  /** Bytes per element of a numeric payload type. */
  def elemSize(t: Int): Int = t match {
    case MiInt8 | MiUInt8 => 1
    case MiInt16 | MiUInt16 => 2
    case MiInt32 | MiUInt32 | MiSingle => 4
    case MiInt64 | MiUInt64 | MiDouble => 8
    case other => throw new IllegalArgumentException(s"unsupported numeric mat type $other")
  }

  /** One 2-D numeric matrix: dims + payload type + absolute offset of
    * the column-major payload in the file.
    */
  final case class NumericMeta(rows: Int, cols: Int, dataType: Int, dataOffset: Long)

  /** One top-level variable: a dense matrix (`cells.length == 1`,
    * `isCell = false`) or a cell array in linear (column-major) cell
    * order — the reference's per-class index.
    */
  final case class VarMeta(name: String, isCell: Boolean, cells: IndexedSeq[NumericMeta])

  // ---------------------------------------------------------------
  // reading
  // ---------------------------------------------------------------

  private final class Cursor(raf: RandomAccessFile) {
    def pos: Long = raf.getFilePointer
    def seek(p: Long): Unit = raf.seek(p)
    def readBytes(n: Int): Array[Byte] = {
      val a = new Array[Byte](n); raf.readFully(a); a
    }
    def readU32(): Long = {
      val b = ByteBuffer.wrap(readBytes(4)).order(ByteOrder.LITTLE_ENDIAN)
      b.getInt.toLong & 0xFFFFFFFFL
    }
  }

  /** (dataType, numBytes, payloadPos, nextElementPos) of the element at
    * the cursor; handles the packed small-element format.
    */
  private def readTag(c: Cursor): (Int, Int, Long, Long) = {
    val start = c.pos
    val word = c.readU32()
    if ((word >>> 16) != 0) {
      // small data element: size in the high 16 bits, payload in the
      // 4 bytes after the tag word, 8 bytes total
      val t = (word & 0xFFFF).toInt
      val n = (word >>> 16).toInt
      (t, n, start + 4, start + 8)
    } else {
      val n = c.readU32().toInt
      val payload = start + 8
      val padded = (n + 7) / 8 * 8
      ((word & 0xFFFFFFFFL).toInt, n, payload, payload + padded)
    }
  }

  /** Parse the miMATRIX element whose payload starts at `pos` and ends
    * at `end`; returns (name, parsed variable) — cells recurse.
    */
  private def parseMatrix(c: Cursor, pos: Long, end: Long): (String, Boolean, IndexedSeq[NumericMeta]) = {
    c.seek(pos)
    // array flags
    val (ft, _, fPay, fNext) = readTag(c)
    require(ft == MiUInt32, s"expected array-flags miUINT32, got $ft")
    c.seek(fPay)
    val flagsWord = c.readU32()
    val clazz = (flagsWord & 0xFF).toInt
    // dimensions
    c.seek(fNext)
    val (dt, dn, dPay, dNext) = readTag(c)
    require(dt == MiInt32, s"expected dimensions miINT32, got $dt")
    val nd = dn / 4
    c.seek(dPay)
    val dims = (0 until nd).map(_ => c.readU32().toInt)
    require(dims.length == 2, s"only 2-D arrays supported, got ${dims.length}-D")
    // name
    c.seek(dNext)
    val (nt, nn, nPay, nNext) = readTag(c)
    require(nt == MiInt8, s"expected name miINT8, got $nt")
    c.seek(nPay)
    val name = new String(c.readBytes(nn), StandardCharsets.US_ASCII)

    clazz match {
      case MxCell =>
        // each cell is a nested miMATRIX element
        var p = nNext
        val cells = IndexedSeq.newBuilder[NumericMeta]
        while (p < end) {
          c.seek(p)
          val (t, _, pay, next) = readTag(c)
          require(t == MiMatrix, s"cell element must be miMATRIX, got $t")
          val (_, isCell, nested) = parseMatrix(c, pay, next)
          require(!isCell && nested.length == 1, "nested cell arrays not supported")
          cells += nested.head
          p = next
        }
        (name, true, cells.result())
      case MxDouble | MxSingle | MxInt8 | MxUInt8 | MxInt16 | MxUInt16 |
           MxInt32 | MxUInt32 | MxInt64 | MxUInt64 =>
        // real part (pr)
        c.seek(nNext)
        val (pt, pn, pPay, _) = readTag(c)
        require(pn >= dims(0) * dims(1) * elemSize(pt),
          s"pr payload too small for ${dims(0)}x${dims(1)} of type $pt")
        (name, false, IndexedSeq(NumericMeta(dims(0), dims(1), pt, pPay)))
      case other =>
        throw new UnsupportedOperationException(
          s"mat array class $other not supported (numeric 2-D matrices and cell arrays only)")
    }
  }

  /** Scan the file's structure: header check + one VarMeta per
    * top-level variable. Reads tags only — payloads are seeked over.
    */
  def scanStructure(path: String): Seq[VarMeta] = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val c = new Cursor(raf)
      c.seek(124)
      val verEnd = c.readBytes(4)
      val endian = new String(verEnd.slice(2, 4), StandardCharsets.US_ASCII)
      require(endian == "IM",
        s"unsupported mat endianness marker '$endian' (little-endian 'IM' only)")
      val len = raf.length()
      var p = 128L
      val out = Seq.newBuilder[VarMeta]
      while (p < len) {
        c.seek(p)
        val (t, _, pay, next) = readTag(c)
        t match {
          case MiMatrix =>
            val (name, isCell, cells) = parseMatrix(c, pay, next)
            out += VarMeta(name, isCell, cells)
          case MiCompressed =>
            throw new UnsupportedOperationException(
              "miCOMPRESSED mat elements not supported — write with scipy.io.savemat(..., do_compression=False)")
          case other =>
            throw new UnsupportedOperationException(s"unexpected top-level mat element type $other")
        }
        p = next
      }
      out.result()
    } finally raf.close()
  }

  /** Read rows `[rowStart, rowStart + nRows)` of a column-major
    * payload as doubles, still column-major within the slice
    * (`out(c * nRows + (r - rowStart))`). A row range of a
    * column-major matrix is `cols` strided segments — one bounded
    * `seek` + `readFully` per column, so a row-split partition reads
    * ONLY its own bytes, never the whole cell.
    */
  def readRows(path: String, m: NumericMeta, rowStart: Int, nRows: Int): Array[Double] = {
    require(rowStart >= 0 && nRows >= 0 && rowStart + nRows <= m.rows,
      s"row range [$rowStart, ${rowStart + nRows}) outside 0..${m.rows}")
    val es = elemSize(m.dataType)
    val raf = new RandomAccessFile(path, "r")
    try {
      val n = nRows * m.cols
      val out = new Array[Double](n)
      val colBytes = new Array[Byte](nRows * es)
      var c = 0
      while (c < m.cols) {
        raf.seek(m.dataOffset + (c.toLong * m.rows + rowStart) * es)
        raf.readFully(colBytes)
        val bb = ByteBuffer.wrap(colBytes).order(ByteOrder.LITTLE_ENDIAN)
        var i = c * nRows
        val end = i + nRows
        m.dataType match {
          case MiDouble => while (i < end) { out(i) = bb.getDouble; i += 1 }
          case MiSingle => while (i < end) { out(i) = bb.getFloat.toDouble; i += 1 }
          case MiInt8   => while (i < end) { out(i) = bb.get.toDouble; i += 1 }
          case MiUInt8  => while (i < end) { out(i) = (bb.get & 0xFF).toDouble; i += 1 }
          case MiInt16  => while (i < end) { out(i) = bb.getShort.toDouble; i += 1 }
          case MiUInt16 => while (i < end) { out(i) = (bb.getShort & 0xFFFF).toDouble; i += 1 }
          case MiInt32  => while (i < end) { out(i) = bb.getInt.toDouble; i += 1 }
          case MiUInt32 => while (i < end) { out(i) = (bb.getInt.toLong & 0xFFFFFFFFL).toDouble; i += 1 }
          case MiInt64 | MiUInt64 => while (i < end) { out(i) = bb.getLong.toDouble; i += 1 }
          case other => throw new IllegalArgumentException(s"unsupported numeric mat type $other")
        }
        c += 1
      }
      out
    } finally raf.close()
  }

  // ---------------------------------------------------------------
  // writing (fixtures + export): double matrices / cell arrays thereof
  // ---------------------------------------------------------------

  /** Row-major convenience holder; `data(r * cols + c)`. */
  final case class Matrix(rows: Int, cols: Int, data: Array[Double]) {
    require(data.length == rows * cols, "matrix data length mismatch")
  }

  private def pad8(n: Int): Int = (n + 7) / 8 * 8

  /** Bytes FOLLOWING the miMATRIX tag (the tag's numBytes field):
    * flags(16) + dims(16) + name(8+pad) + pr(8+pad).
    */
  private def matrixContentSize(m: Matrix, name: String): Int =
    16 + 16 + 8 + pad8(name.length) + 8 + pad8(m.rows * m.cols * 8)

  private def writeMatrixElement(o: DataOutputStream, m: Matrix, name: String): Unit = {
    writeTag(o, MiMatrix, matrixContentSize(m, name))
    // array flags (miUINT32 x 2): class mxDOUBLE, no flags
    writeTag(o, MiUInt32, 8); writeU32(o, MxDouble); writeU32(o, 0)
    // dimensions
    writeTag(o, MiInt32, 8); writeU32(o, m.rows); writeU32(o, m.cols)
    // name
    writeTag(o, MiInt8, name.length)
    o.write(name.getBytes(StandardCharsets.US_ASCII))
    writePad(o, name.length)
    // pr, column-major
    writeTag(o, MiDouble, m.rows * m.cols * 8)
    val bb = ByteBuffer.allocate(m.rows * m.cols * 8).order(ByteOrder.LITTLE_ENDIAN)
    var c = 0
    while (c < m.cols) { var r = 0; while (r < m.rows) { bb.putDouble(m.data(r * m.cols + c)); r += 1 }; c += 1 }
    o.write(bb.array())
  }

  private def writeTag(o: DataOutputStream, t: Int, n: Int): Unit = { writeU32(o, t); writeU32(o, n) }

  private def writeU32(o: DataOutputStream, v: Int): Unit = {
    o.write(v & 0xFF); o.write((v >>> 8) & 0xFF); o.write((v >>> 16) & 0xFF); o.write((v >>> 24) & 0xFF)
  }

  private def writePad(o: DataOutputStream, written: Int): Unit = {
    var p = written
    while (p % 8 != 0) { o.write(0); p += 1 }
  }

  /** Write a little-endian v5 MAT file. Each variable is a dense
    * double matrix (`Left`) or a 1×K cell array of double matrices
    * (`Right`) — the reference's per-class layout.
    */
  def write(path: String, vars: Seq[(String, Either[Matrix, Seq[Matrix]])]): Unit = {
    val o = new DataOutputStream(new FileOutputStream(path))
    try {
      val desc = "MATLAB 5.0 MAT-file, written by graft MatV5"
      val header = desc.getBytes(StandardCharsets.US_ASCII).padTo(116, ' '.toByte)
      o.write(header)
      o.write(new Array[Byte](8)) // subsystem data offset: none
      o.write(0x00); o.write(0x01) // version 0x0100, little-endian
      o.write('I'.toInt); o.write('M'.toInt)
      for ((name, v) <- vars) v match {
        case Left(m) => writeMatrixElement(o, m, name)
        case Right(cells) =>
          // each nested cell element = 8-byte tag + its content
          val inner = cells.map(c => 8 + matrixContentSize(c, "")).sum
          writeTag(o, MiMatrix, 16 + 16 + 8 + pad8(name.length) + inner)
          writeTag(o, MiUInt32, 8); writeU32(o, MxCell); writeU32(o, 0)
          writeTag(o, MiInt32, 8); writeU32(o, 1); writeU32(o, cells.length)
          writeTag(o, MiInt8, name.length)
          o.write(name.getBytes(StandardCharsets.US_ASCII))
          writePad(o, name.length)
          cells.foreach(writeMatrixElement(o, _, ""))
      }
    } finally o.close()
  }
}
