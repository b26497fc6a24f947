package graft.spark.readstat

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Paths}
import java.nio.{ByteBuffer, ByteOrder}

import graft.core.Bin
import graft.core.spss.SpssCore

/** ASCII string cells go into the vectors as their file bytes; every
  * other cell keeps the String path (decode, trim, re-encode). Each value
  * read here must equal what the String path gives for the same bytes:
  * non-ASCII text in legacy and UTF-8 charsets, UTF-8 cut mid-sequence,
  * trailing blanks and embedded NULs — and a charset that is not
  * ASCII-compatible must decode every cell, ASCII bytes included. */
class StringBytePathSpec extends graft.readstat.SparkTestBase {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_bytepath").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def write(values: Seq[String], path: String, opts: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    values.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "s").coalesce(1)
      .write.format("readstat").mode("overwrite").options(opts).save(path)
  }

  private def read(path: String): Seq[String] =
    spark.read.format("readstat").load(path).collect().toSeq
      .sortBy(_.getAs[Number](0).intValue).map(_.getString(1))

  /** Replaces the one occurrence of `from` in the file with `to`. */
  private def patch(path: String, from: Array[Byte], to: Array[Byte]): Unit = {
    val b = Files.readAllBytes(Paths.get(path))
    val at = b.indices.filter(i => b.startsWith(from, i))
    assert(at.length == 1, s"${at.length} occurrences of the patched bytes")
    System.arraycopy(to, 0, b, at.head, to.length)
    Files.write(Paths.get(path), b)
  }

  private def bytes(s: String, cs: Charset = StandardCharsets.UTF_8) = s.getBytes(cs)

  /** The String path of a dta cell: bytes up to the first NUL, decoded. */
  private def dtaRule(b: Array[Byte], cs: Charset) = Bin.zstr(b, 0, b.length, cs)

  /** The String path of a sas7bdat cell: trailing blanks and NULs
    * trimmed, cut at the first NUL, decoded. */
  private def sasRule(b: Array[Byte], cs: Charset) = {
    var end = b.length
    while (end > 0 && (b(end - 1) == ' ' || b(end - 1) == 0)) end -= 1
    val stop = b.indexWhere(_ == 0) match { case -1 => end; case i => math.min(i, end) }
    new String(b, 0, stop, cs)
  }

  test("ASCII compatibility is decided per charset") {
    Seq("UTF-8", "windows-1252", "ISO-8859-1", "US-ASCII", "GBK", "Shift_JIS")
      .foreach(cs => assert(AsciiCells.compatible(Charset.forName(cs)), cs))
    Seq("UTF-16LE", "UTF-16BE", "UTF-32", "IBM037", "ISO-2022-JP")
      .filter(Charset.isSupported)
      .foreach(cs => assert(!AsciiCells.compatible(Charset.forName(cs)), cs))
  }

  test("a windows-1252 dta 117 decodes like the String path") {
    val cs = Charset.forName("windows-1252")
    val p = s"$dir/legacy.dta"
    val values = Seq("plain", "café", "naïve", "tail  ", "  lead", "nulQmid", "€uro")
    write(values, p, Map("dtaVersion" -> "117"))
    patch(p, bytes("nulQmid", cs), bytes("nul\u0000mid", cs))
    val want = values.map(_.replace("nulQmid", "nul\u0000mid"))
      .map(v => dtaRule(bytes(v, cs), cs))
    assert(read(p) == want)
    assert(want(5) == "nul" && want(3) == "tail  ")
  }

  test("a UTF-8 dta 118 string cut mid-sequence decodes like the String path") {
    val p = s"$dir/cut.dta"
    val values = Seq("abcé", "xyzé", "ascii", "endé")
    write(values, p)
    patch(p, bytes("abcé"), bytes("abc") ++ Array(0xC3.toByte, 0.toByte))
    patch(p, bytes("xyzé"), bytes("xyz") ++ Array(0xC3.toByte, 'A'.toByte))
    val raw = Seq(bytes("abc") :+ 0xC3.toByte, bytes("xyz") ++ Array(0xC3.toByte, 'A'.toByte),
      bytes("ascii"), bytes("endé"))
    val want = raw.map(dtaRule(_, StandardCharsets.UTF_8))
    assert(read(p) == want)
    assert(want.head == "abc�" && want(1) == "xyz�A")
  }

  test("a windows-1252 sav decodes like the String path") {
    val cs = Charset.forName("windows-1252")
    val p = s"$dir/cp1252.sav"
    val values = Seq("plain", "café", "tail  ", "nulQmid", "endQ", "ascii")
    write(values, p)
    // the writer declares UTF-8 twice: the encoding record's name (made
    // unknown here) and the integer record's code page (set to 1252)
    val b = Files.readAllBytes(Paths.get(p))
    val le = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    def record(subtype: Int, size: Int): Int = (0 until b.length - 16).find(i =>
      le.getInt(i) == 7 && le.getInt(i + 4) == subtype && le.getInt(i + 8) == size).get
    val enc = record(20, 1)
    java.util.Arrays.fill(b, enc + 16, enc + 16 + le.getInt(enc + 12), 'X'.toByte)
    le.putInt(record(3, 4) + 16 + 28, 1252)
    Files.write(Paths.get(p), b)
    assert(SpssModule.metadata(p).charset == cs)
    patch(p, bytes("nulQmid"), bytes("nul\u0000mid"))
    patch(p, bytes("endQ"), bytes("end\u0000"))
    val want = values.map(_.replace("Q", "\u0000"))
      .map(v => SpssCore.trimSav(new String(bytes(v), cs)))
    assert(read(p) == want)
    assert(want(1) == "cafÃ©" && want(3) == "nul\u0000mid" && want(4) == "end")
  }

  test("a sas7bdat in a non-UTF-8 charset decodes like the String path") {
    val p = s"$dir/cp1252.sas7bdat"
    val values = Seq("plain", "café", "tail  ", "nulQmid", "ascii")
    write(values, p)
    val b = Files.readAllBytes(Paths.get(p))
    b(70) = 62 // header encoding byte: windows-1252
    Files.write(Paths.get(p), b)
    val cs = Charset.forName("windows-1252")
    assert(SasModule.metadata(p).charset == cs)
    patch(p, bytes("nulQmid"), bytes("nul\u0000mid"))
    val want = values.map(_.replace("Q", "\u0000")).map(v => sasRule(bytes(v), cs))
    assert(read(p) == want)
    assert(want(1) == "cafÃ©" && want(2) == "tail" && want(3) == "nul")
  }

  test("a charset that is not ASCII-compatible decodes every cell") {
    val iso2022 = "ISO-2022-JP"
    assume(Charset.isSupported(iso2022))
    val p = s"$dir/jis.sas7bdat"
    // all bytes below 0x80, but the escapes switch to JIS X 0208: 亜
    val jis = "\u001b$B0!\u001b(B"
    val values = Seq(jis, "ascii")
    write(values, p)
    val b = Files.readAllBytes(Paths.get(p))
    b(70) = 119.toByte // header encoding byte: ISO-2022-JP
    Files.write(Paths.get(p), b)
    val cs = Charset.forName(iso2022)
    assert(SasModule.metadata(p).charset == cs)
    val want = values.map(v => sasRule(bytes(v), cs))
    assert(want.head == "亜")
    assert(read(p) == want)
  }
}
