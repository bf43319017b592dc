package graft

import graft.sources.Xls
import java.nio.charset.StandardCharsets.UTF_16LE
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** .xls reader against spec-built fixtures. The fixture writer below
  * lays out MS-CFB containers (v3 AND v4 sector sizes, FAT, directory,
  * mini-stream) and BIFF8 records byte-by-byte from the public specs —
  * never using the reader under test. Covers the classic traps the
  * format is known for: SST CONTINUE splits that restate the
  * compression flag mid-string, RK/MULRK packed numbers, cached
  * FORMULA results, and the sub-4096-byte mini-stream path.
  */
class XlsSpec extends AnyFunSuite {

  // ------------------------------------------------ little-endian out
  private final class B {
    val o = ArrayBuffer.empty[Byte]
    def u8(v: Int): Unit = o += v.toByte
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    def u32(v: Int): Unit = { u16(v & 0xffff); u16((v >>> 16) & 0xffff) }
    def f64(v: Double): Unit = {
      val l = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(k => u8((l >> (8 * k)).toInt))
    }
    def ascii(s: String): Unit = s.foreach(c => u8(c.toInt))
    def raw(bs: Array[Byte]): Unit = o ++= bs
    def bytes: Array[Byte] = o.toArray
  }

  // ------------------------------------------------------ biff records
  private def record(typ: Int)(body: B => Unit): Array[Byte] = {
    val b = new B; body(b)
    val out = new B; out.u16(typ); out.u16(b.o.length); out.raw(b.bytes)
    out.bytes
  }

  private def bof(dt: Int) = record(0x809) { b =>
    b.u16(0x600); b.u16(dt); b.u16(0); b.u16(0); b.u32(0); b.u32(0)
  }
  private val eof = record(0x0A)(_ => ())

  private def boundsheet(name: String, offset: Int) = record(0x85) { b =>
    b.u32(offset); b.u16(0); b.u8(name.length); b.u8(0); b.ascii(name)
  }

  private def labelSst(rw: Int, col: Int, isst: Int) = record(0xFD) { b =>
    b.u16(rw); b.u16(col); b.u16(0); b.u32(isst)
  }
  private def number(rw: Int, col: Int, v: Double) = record(0x203) { b =>
    b.u16(rw); b.u16(col); b.u16(0); b.f64(v)
  }
  private def rk(rw: Int, col: Int, rkv: Int) = record(0x27E) { b =>
    b.u16(rw); b.u16(col); b.u16(0); b.u32(rkv)
  }
  private def mulrk(rw: Int, colFirst: Int, rks: Seq[Int]) =
    record(0xBD) { b =>
      b.u16(rw); b.u16(colFirst)
      rks.foreach { v => b.u16(0); b.u32(v) }
      b.u16(colFirst + rks.length - 1)
    }
  private def label(rw: Int, col: Int, s: String) = record(0x204) { b =>
    b.u16(rw); b.u16(col); b.u16(0); b.u16(s.length); b.u8(0); b.ascii(s)
  }
  private def boolerr(rw: Int, col: Int, v: Boolean) = record(0x205) { b =>
    b.u16(rw); b.u16(col); b.u16(0); b.u8(if (v) 1 else 0); b.u8(0)
  }
  private def formulaNum(rw: Int, col: Int, v: Double) = record(0x06) { b =>
    b.u16(rw); b.u16(col); b.u16(0); b.f64(v); b.u16(0); b.u32(0); b.u16(0)
  }
  private def formulaBool(rw: Int, col: Int, v: Boolean) = record(0x06) { b =>
    b.u16(rw); b.u16(col); b.u16(0)
    b.u8(1); b.u8(0); b.u8(if (v) 1 else 0); b.u8(0); b.u8(0); b.u8(0)
    b.u8(0xFF); b.u8(0xFF)
    b.u16(0); b.u32(0); b.u16(0)
  }
  private def formulaStr(rw: Int, col: Int, s: String): Array[Byte] = {
    val f = record(0x06) { b =>
      b.u16(rw); b.u16(col); b.u16(0)
      (0 until 6).foreach(_ => b.u8(0)); b.u8(0xFF); b.u8(0xFF)
      b.u16(0); b.u32(0); b.u16(0)
    }
    val str = record(0x207) { b => b.u16(s.length); b.u8(0); b.ascii(s) }
    f ++ str
  }

  /** RK packings (MS-XLS 2.5.276): bit1 = 30-bit int, bit0 = ÷100,
    * else the high 30 bits of an IEEE double.
    */
  private def rkInt(v: Int): Int = (v << 2) | 2
  private def rkInt100(v: Int): Int = (v << 2) | 3
  private def rkFloat(v: Double): Int = {
    val hi = (java.lang.Double.doubleToLongBits(v) >>> 32).toInt
    require((hi & 3) == 0, s"$v not RK-float representable in this test")
    hi
  }

  /** SST split across CONTINUE records: fragment 0 is the SST record
    * itself; a split mid-string makes the next fragment restate the
    * compression flag for its portion (here switching compressed →
    * UTF-16), and a split at a string boundary starts the next
    * fragment with no flag byte — both spec rules exercised.
    */
  private def sstRecords(pads: Seq[String]): Array[Byte] = {
    val total = 4 + pads.length
    def header(cch: Int, hiByte: Boolean)(b: B): Unit = {
      b.u16(cch); b.u8(if (hiByte) 1 else 0)
    }
    val frag0 = new B
    frag0.u32(total); frag0.u32(total)
    Seq("id", "name", "val").foreach { s =>
      header(s.length, hiByte = false)(frag0); frag0.ascii(s)
    }
    header(9, hiByte = false)(frag0) // "split_ΩΩΩ": 9 chars total
    frag0.ascii("split_") // record ends mid-string
    val (h0, h1) = (pads.take(pads.length / 2), pads.drop(pads.length / 2))
    val frag1 = new B
    frag1.u8(1) // continuation flag: this portion is UTF-16
    frag1.raw("ΩΩΩ".getBytes(UTF_16LE))
    h0.foreach { s => header(s.length, hiByte = false)(frag1); frag1.ascii(s) }
    val frag2 = new B // starts at a string boundary: no flag byte
    h1.foreach { s => header(s.length, hiByte = false)(frag2); frag2.ascii(s) }
    record(0xFC)(_.raw(frag0.bytes)) ++
      record(0x3C)(_.raw(frag1.bytes)) ++
      record(0x3C)(_.raw(frag2.bytes))
  }

  /** Globals + sheet substreams with BOUNDSHEET offsets resolved. */
  private def workbook(globalsMid: Array[Byte],
      sheets: Seq[(String, Array[Byte])]): Array[Byte] = {
    def globals(offs: Seq[Int]): Array[Byte] =
      bof(0x5) ++
        sheets.zip(offs).flatMap { case ((n, _), o) => boundsheet(n, o) } ++
        globalsMid ++ eof
    val gLen = globals(sheets.map(_ => 0)).length
    val offs = sheets.map(_._2.length).scanLeft(gLen)(_ + _).init
    globals(offs) ++ sheets.flatMap(_._2)
  }

  // -------------------------------------------------------- cfb writer

  /** Minimal MS-CFB container holding one stream. `sectorShift` 9 = v3
    * (512-byte sectors), 12 = v4 (4096); streams under the 4096-byte
    * cutoff go through the root mini-stream + mini-FAT.
    */
  private def cfb(name: String, data: Array[Byte],
      sectorShift: Int): Array[Byte] = {
    val END = -2; val FREE = -1; val FATS = -3
    val ss = 1 << sectorShift
    val sectors = ArrayBuffer.empty[Array[Byte]]
    val fat = ArrayBuffer.empty[Int]
    def addChain(bytes: Array[Byte]): Int = {
      val n = math.max(1, (bytes.length + ss - 1) / ss)
      val start = sectors.length
      (0 until n).foreach { i =>
        val sec = new Array[Byte](ss)
        val off = i * ss
        if (off < bytes.length)
          System.arraycopy(bytes, off, sec, 0,
            math.min(ss, bytes.length - off))
        sectors += sec
        fat += (if (i == n - 1) END else start + i + 1)
      }
      start
    }
    // stream placement: regular chain at >= 4096 bytes, else ministream
    var miniStart = END; var miniFatStart = END; var numMiniFat = 0
    var streamStart = END; var miniBytes = 0
    if (data.length >= 4096) streamStart = addChain(data)
    else {
      val n = math.max(1, (data.length + 63) / 64)
      val mini = new Array[Byte](n * 64)
      System.arraycopy(data, 0, mini, 0, data.length)
      miniBytes = mini.length
      val mf = new B
      (0 until n).foreach(i => mf.u32(if (i == n - 1) END else i + 1))
      miniStart = addChain(mini)
      miniFatStart = addChain(mf.bytes)
      numMiniFat = 1
      streamStart = 0
    }
    // directory sector: root + stream + empty pad entries
    val dir = new B
    def entry(nm: String, typ: Int, start: Int, size: Int,
        child: Int): Unit = {
      val u = nm.getBytes(UTF_16LE)
      require(u.length <= 62)
      dir.raw(u); (u.length until 64).foreach(_ => dir.u8(0))
      dir.u16(if (nm.isEmpty) 0 else u.length + 2)
      dir.u8(typ); dir.u8(1) // color: black
      dir.u32(FREE); dir.u32(FREE); dir.u32(child)
      (0 until 16).foreach(_ => dir.u8(0)) // clsid
      dir.u32(0) // state
      (0 until 16).foreach(_ => dir.u8(0)) // times
      dir.u32(start)
      dir.u32(size); dir.u32(0)
    }
    entry("Root Entry", 5, miniStart, miniBytes, 1)
    entry(name, 2, streamStart, data.length, FREE)
    while (dir.o.length % ss != 0) entry("", 0, 0, 0, FREE)
    val dirStart = addChain(dir.bytes)
    // FAT sectors (self-marked), sized to cover themselves too
    var numFat = 1
    while ((sectors.length + numFat) * 4 > numFat * ss) numFat += 1
    val fatStart = sectors.length
    (0 until numFat).foreach(_ => fat += FATS)
    val fb = new B
    fat.foreach(fb.u32)
    while (fb.o.length < numFat * ss) fb.u32(FREE)
    val fatBytes = fb.bytes
    (0 until numFat).foreach { i =>
      val sec = new Array[Byte](ss)
      System.arraycopy(fatBytes, i * ss, sec, 0, ss)
      sectors += sec
    }
    // header (512 bytes, padded to one full sector for v4)
    val h = new B
    h.raw(Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1)
      .map(_.toByte))
    (0 until 16).foreach(_ => h.u8(0)) // clsid
    h.u16(0x3E); h.u16(if (sectorShift == 9) 3 else 4)
    h.u16(0xFFFE) // little-endian marker
    h.u16(sectorShift); h.u16(6)
    (0 until 6).foreach(_ => h.u8(0))
    h.u32(0) // numDirSectors (v3: must be 0)
    h.u32(numFat)
    h.u32(dirStart)
    h.u32(0) // transaction signature
    h.u32(4096) // mini cutoff
    h.u32(miniFatStart); h.u32(numMiniFat)
    h.u32(END); h.u32(0) // DIFAT chain: none (≤109 FAT sectors)
    (0 until 109).foreach(i => h.u32(if (i < numFat) fatStart + i else FREE))
    while (h.o.length < math.max(512, ss)) h.u8(0)
    h.bytes ++ sectors.flatten
  }

  // ---------------------------------------------------------- fixtures

  /** Main workbook: "data" sheet exercising every cell record kind +
    * an "extra" sheet for `layer`; SST padded past the 4096-byte CFB
    * mini-stream cutoff so the regular-FAT path is what's tested.
    */
  private def bigXls: Array[Byte] = {
    val pads = (0 until 180).map(i => f"pad_${i}%04d_0123456789abcdef")
    val dataSheet = bof(0x10) ++
      labelSst(0, 0, 0) ++ labelSst(0, 1, 1) ++ labelSst(0, 2, 2) ++
      rk(1, 0, rkInt(42)) ++ labelSst(1, 1, 3) ++ number(1, 2, 3.14) ++
      rk(2, 0, rkInt100(1234)) ++ label(2, 1, "inline") ++
      boolerr(2, 2, v = true) ++
      mulrk(3, 0, Seq(rkInt(1), rkInt(2), rkFloat(2.5))) ++
      formulaNum(4, 0, 99.0) ++ formulaStr(4, 1, "fx") ++
      formulaBool(4, 2, v = true) ++
      eof
    val extraSheet = bof(0x10) ++
      label(0, 0, "k") ++ number(1, 0, 7.0) ++ eof
    cfb("Workbook",
      workbook(sstRecords(pads),
        Seq("data" -> dataSheet, "extra" -> extraSheet)),
      sectorShift = 9)
  }

  /** Tiny workbook (< 4096 bytes): the mini-stream path. */
  private def miniWorkbook: Array[Byte] = {
    val sheet = bof(0x10) ++
      label(0, 0, "k") ++ number(1, 0, 7.5) ++ eof
    workbook(Array.emptyByteArray, Seq("mini" -> sheet))
  }

  // ------------------------------------------------------------- tests

  test("BIFF8 grid: SST CONTINUE split, RK/MULRK, cached formulas") {
    val grid = Xls.parse(bigXls)
    assert(grid(0) == Vector("id", "name", "val"))
    assert(grid(1) == Vector("42", "split_ΩΩΩ", "3.14"))
    assert(grid(2) == Vector("12.34", "inline", "true"))
    assert(grid(3) == Vector("1", "2", "2.5"))
    assert(grid(4) == Vector("99", "fx", "true"))
    // the padded SST survived both CONTINUE boundaries intact
    assert(grid.length == 5)
  }

  test("mini-stream (v3) and 4096-byte-sector (v4) containers parse") {
    val v3 = cfb("Workbook", miniWorkbook, sectorShift = 9)
    val v4 = cfb("Workbook", miniWorkbook, sectorShift = 12)
    assert(v3.length < 4096 + 512 * 8) // really took the mini path
    val expect = Vector(Vector("k"), Vector("7.5"))
    assert(Xls.parse(v3) == expect)
    assert(Xls.parse(v4) == expect)
    // "Book" stream name (BIFF8 files written by some producers)
    assert(Xls.parse(cfb("Book", miniWorkbook, sectorShift = 9)) == expect)
  }

  test("engine scan: header, layer tab selection, SQL over the view") {
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("xls")
    Files.write(dir.resolve("t.xls"), bigXls)
    val e = LakeEngine(spark)

    val df = e.createLakeTable("xls_t", dir.resolve("t.xls").toString,
      format = Some("gdal"))
    assert(df.columns.toSeq == Seq("id", "name", "val"))
    assert(df.count() == 4)
    assert(spark.sql(
      "SELECT sum(cast(id AS DOUBLE)) AS s FROM xls_t WHERE id IS NOT NULL")
      .head().getDouble(0) == 42 + 12.34 + 1 + 99)
    assert(spark.sql("SELECT name FROM xls_t WHERE id = '42'")
      .head().getString(0) == "split_ΩΩΩ")

    // layer selects the second tab; header=false names columns c1..
    val extra = e.createLakeTable("xls_extra",
      dir.resolve("t.xls").toString, format = Some("gdal"),
      options = Map("layer" -> "extra"))
    assert(extra.columns.toSeq == Seq("k"))
    assert(extra.head().getString(0) == "7")
    val raw = e.createLakeTable("xls_raw",
      dir.resolve("t.xls").toString, format = Some("gdal"),
      options = Map("header" -> "false", "layer" -> "extra"))
    assert(raw.columns.toSeq == Seq("c1"))
    assert(raw.count() == 2)
  }

  test("refusals: BIFF5, bad magic, unknown sheet, CFB without workbook") {
    // BIFF5 BOF version word
    val biff5 = {
      val b = new B
      b.u16(0x809); b.u16(8); b.u16(0x500); b.u16(0x5); b.u32(0)
      cfb("Workbook", b.bytes ++ eof, sectorShift = 9)
    }
    val e5 = intercept[IllegalArgumentException](Xls.parse(biff5))
    assert(e5.getMessage.contains("BIFF8"))

    intercept[IllegalArgumentException](
      Xls.parse("not a compound file at all".getBytes ++ new Array[Byte](600)))

    val noSheet = intercept[IllegalArgumentException](
      Xls.parse(bigXls, layer = Some("nope")))
    assert(noSheet.getMessage.contains("data, extra"))

    val wrongStream = intercept[IllegalArgumentException](
      Xls.parse(cfb("SomethingElse", miniWorkbook, sectorShift = 9)))
    assert(wrongStream.getMessage.contains("stream"))
  }
}
