package graft.readstat

import java.nio.file.{Files, Paths}
import scala.concurrent.duration._
import scala.concurrent.{Await, Future, ExecutionContext}

import graft.spark.readstat.{Formats, ReadstatOptions}

/** Byte-flip fuzzing of every stat-format reader: a corrupted file must
  * either parse (flip landed in data we can't validate) or throw a clean
  * exception — never hang, and never let an in-file length field size a
  * runaway allocation (the classic parser DoS: a flipped strL/page/block
  * length asking for gigabytes). Deterministic seeds so failures replay.
  */
class FuzzCorruptionSpec extends SparkTestBase {

  private implicit val ec: ExecutionContext = ExecutionContext.global

  /** Read metadata + every batch through the format module's columnar
    * decoder directly (the same decode a Spark scan runs, without
    * per-trial job overhead). Returns the row count; any throw is the
    * caller's to interpret. */
  private def readAll(path: String): Long = {
    val m = Formats.moduleFor(path)
    val opts = ReadstatOptions()
    val schema = m.schema(path, opts)
    var n = 0L
    m.planPartitions(path, opts, None).foreach { part =>
      val it = m.columnarRows(part, opts, schema)
      while (it.hasNext) n += it.next().numRows()
    }
    n
  }

  /** Ranges the module plans for the file, if planning succeeds. */
  private def planned(path: String): Option[Int] =
    try Some(Formats.moduleFor(path).planPartitions(path, ReadstatOptions(), None).length)
    catch { case _: Exception => None }

  private def fuzzOne(src: String, ext: String, trial: Int,
      rnd: java.util.Random): Unit = {
    val bytes = Files.readAllBytes(Paths.get(src))
    val nFlips = 1 + rnd.nextInt(4)
    val where = (0 until nFlips).map { _ =>
      // bias 2/3 of flips into the first 512 / last 256 bytes — that is
      // where the length fields live (headers, dta map/strls offsets,
      // zsav block table) — so the runs actually exercise the
      // corrupt-length guards instead of mostly flipping row data
      val off = rnd.nextInt(3) match {
        case 0 => rnd.nextInt(bytes.length)
        case 1 => rnd.nextInt(math.min(512, bytes.length))
        case _ => bytes.length - 1 - rnd.nextInt(math.min(256, bytes.length))
      }
      // half the flips write 0xFF runs — the worst case for length
      // fields (huge positive / negative values); half are random bytes
      val v = if (rnd.nextBoolean()) 0xff.toByte else rnd.nextInt(256).toByte
      val run = 1 + rnd.nextInt(4)
      var i = 0
      while (i < run && off + i < bytes.length) { bytes(off + i) = v; i += 1 }
      f"$off+$run<-0x${v & 0xff}%02x"
    }
    val out = Files.createTempFile(s"graft_fuzz_${ext}_$trial", s".$ext")
    Files.write(out, bytes)
    out.toFile.deleteOnExit()
    val ranges = Future(planned(out.toString))
    val attempt = Future(try Right(readAll(out.toString)) catch {
      case e: Exception => Left(e)
      case e: StackOverflowError => Left(new RuntimeException(e))
    })
    try {
      Await.result(attempt, 60.seconds) match {
        case Right(n) => assert(n >= 0) // parsed despite the flip: fine
        case Left(_) => ()             // clean error: fine
      }
      // fixed-width rows plan from what the file holds, whatever row
      // count a flipped header claims (dta trial 35 claims 1.7e14 rows
      // in a 67 KB file): at most one range per openCostInBytes of file,
      // plus one range for declared rows the file does not hold
      if (Set("dta", "sav", "xpt")(ext)) Await.result(ranges, 60.seconds).foreach { k =>
        val bound = (bytes.length - 1) / ReadstatOptions().split.floorBytes + 2
        assert(k <= bound, s"$ext fuzz trial $trial (${where.mkString(",")}): " +
          s"$k ranges planned for ${bytes.length} bytes")
      }
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        fail(s"$ext fuzz trial $trial (${where.mkString(",")}): reader hung >60s")
    } finally Files.deleteIfExists(out)
  }

  private def writtenFile(ext: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fuzz_src").toString
    val p = s"$dir/src.$ext"
    val w = (1 to 2000).map(i => (i, i * 1.5, s"text value $i", s"s$i"))
      .toDF("id", "v", "s", "t")
      .write.format("readstat").mode("overwrite")
    // por (r11) carries value-label and missing-declaration records in
    // its header — declare some so the flips exercise the tag-'D'/8/B
    // parse guards, not just the variable records
    (if (ext == "por")
      w.option("valueLabels", "id:1=One,2=Two|t:s1=First")
        .option("missingValues", "v:90..99,3")
    else w).save(p)
    p
  }

  for (ext <- Seq("dta", "sav", "zsav", "xpt", "por", "sas7bdat")) {
    test(s"fuzzed $ext reads throw or parse, never hang or over-allocate") {
      val src = writtenFile(ext)
      val rnd = new java.util.Random(0xC0FFEE + ext.hashCode)
      for (trial <- 0 until 40) fuzzOne(src, ext, trial, rnd)
    }
  }

  test("fuzzed reference sas7bdat fixture throws or parses, never hangs") {
    val src = res("fixtures/sas/test1.sas7bdat")
    val rnd = new java.util.Random(0xC0FFEE + 7)
    for (trial <- 0 until 40) fuzzOne(src, "sas7bdat", trial, rnd)
  }

  test("fuzzed sas7bcat catalogs throw or parse, never hang or over-allocate") {
    // catalogs are parsed on the DRIVER at schema time (the catalog
    // option), so a corrupt-length DoS here stalls planning, not a task
    val dir = Files.createTempDirectory("graft_fuzz_cat").toString
    val src = s"$dir/f.sas7bcat"
    graft.spark.readstat.writers.SasCatalogWriter.write(src,
      numeric = Map("REGIONF" -> (1 to 50).map(i => i.toDouble -> s"Region $i").toMap),
      string = Map("$TAGF" -> Map("ab" -> "Alpha", "cd" -> "Delta")))
    val rnd = new java.util.Random(0xC0FFEE + 13)
    for (trial <- 0 until 40) {
      val bytes = Files.readAllBytes(Paths.get(src))
      val nFlips = 1 + rnd.nextInt(4)
      val where = (0 until nFlips).map { _ =>
        val off = rnd.nextInt(3) match {
          case 0 => rnd.nextInt(bytes.length)
          case 1 => rnd.nextInt(math.min(512, bytes.length))
          case _ => bytes.length - 1 - rnd.nextInt(math.min(256, bytes.length))
        }
        val v = if (rnd.nextBoolean()) 0xff.toByte else rnd.nextInt(256).toByte
        val run = 1 + rnd.nextInt(4)
        var i = 0
        while (i < run && off + i < bytes.length) { bytes(off + i) = v; i += 1 }
        f"$off+$run<-0x${v & 0xff}%02x"
      }
      val out = Files.createTempFile(s"graft_fuzz_cat_$trial", ".sas7bcat")
      Files.write(out, bytes)
      out.toFile.deleteOnExit()
      val attempt = Future(try Right(graft.core.sas.SasCatalog.read(out.toString))
        catch {
          case e: Exception => Left(e)
          case e: StackOverflowError => Left(new RuntimeException(e))
        })
      try {
        Await.result(attempt, 60.seconds) match {
          case Right(cat) => assert(cat.numeric.size + cat.string.size >= 0)
          case Left(_) => ()
        }
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          fail(s"sas7bcat fuzz trial $trial (${where.mkString(",")}): reader hung >60s")
      } finally Files.deleteIfExists(out)
    }
  }

  // ---- targeted length-field corruption: the guards themselves ----
  // Random flips rarely land on a length field, and on a large-heap test
  // box a runaway allocation can even succeed before failing later — so
  // these tests corrupt the exact fields the guards watch and assert the
  // clean diagnostic fires (what protects a memory-tight executor).

  private def corruptCopy(src: String, ext: String)(
      mutate: Array[Byte] => Unit): String = {
    val bytes = Files.readAllBytes(Paths.get(src))
    mutate(bytes)
    val out = Files.createTempFile("graft_fuzz_target", s".$ext")
    Files.write(out, bytes)
    out.toFile.deleteOnExit()
    out.toString
  }

  test("sas7bdat with a huge header-length field throws the corrupt-length error") {
    val src = res("fixtures/sas/test1.sas7bdat")
    val p = corruptCopy(src, "sas7bdat") { b =>
      val align1 = if (b(35) == '3') 4 else 0
      // 0x7FFFFF7F reads huge and positive in either byte order
      b(196 + align1) = 0x7f; b(197 + align1) = 0xff.toByte
      b(198 + align1) = 0xff.toByte; b(199 + align1) = 0x7f
    }
    val e = intercept[Exception](readAll(p))
    assert(e.getMessage.contains("corrupt sas7bdat"), e.getMessage)
  }

  test("dta with a huge strL GSO length throws the corrupt-length error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fuzz_strl").toString
    val p0 = s"$dir/strl.dta"
    (1 to 5).map(i => (i, "x" * 3000)).toDF("id", "s")
      .write.format("readstat").mode("overwrite").save(p0)
    val bytes = Files.readAllBytes(Paths.get(p0))
    // GSO record: "GSO" v(4) o(8) t(1) len(4) — len at magic offset +16
    val gso = {
      var i = -1
      var k = 0
      while (i < 0 && k < bytes.length - 20) {
        if (bytes(k) == 'G' && bytes(k + 1) == 'S' && bytes(k + 2) == 'O') i = k
        k += 1
      }
      i
    }
    assert(gso > 0, "no GSO record found in the written strL dta")
    // GSO layout is version-dependent: o is u32 in 117, u64 in 118+ —
    // so len sits at +12 or +16 from the magic
    val md = graft.core.stata.StataParser.parse(p0)
    val lenOff = gso + (if (md.version >= 118) 16 else 12)
    val p = corruptCopy(p0, "dta") { b =>
      if (md.littleEndian) {
        b(lenOff) = 0xff.toByte; b(lenOff + 1) = 0xff.toByte
        b(lenOff + 2) = 0xff.toByte; b(lenOff + 3) = 0x7f
      } else {
        b(lenOff) = 0x7f; b(lenOff + 1) = 0xff.toByte
        b(lenOff + 2) = 0xff.toByte; b(lenOff + 3) = 0xff.toByte
      }
    }
    val e = intercept[Exception](readAll(p))
    assert(e.getMessage.contains("corrupt dta"), e.getMessage)
  }

  test("zsav with a huge block-size field throws the corrupt-length error") {
    val src = writtenFile("zsav")
    val md = graft.core.spss.SpssCore.parse(src)
    val raf = new java.io.RandomAccessFile(src, "r")
    val ztrailerOfs = try {
      raf.seek(md.dataOffset)
      val h = new Array[Byte](24); raf.readFully(h)
      graft.core.Bin.i64(h, 8, md.little)
    } finally raf.close()
    val p = corruptCopy(src, "zsav") { b =>
      // first block entry follows the 24-byte trailer header; its
      // uncompressedSize i32 sits at entry offset +16
      val u = (ztrailerOfs + 24 + 16).toInt
      if (md.little) {
        b(u) = 0xff.toByte; b(u + 1) = 0xff.toByte
        b(u + 2) = 0xff.toByte; b(u + 3) = 0x7f
      } else {
        b(u) = 0x7f; b(u + 1) = 0xff.toByte
        b(u + 2) = 0xff.toByte; b(u + 3) = 0xff.toByte
      }
    }
    val e = intercept[Exception](readAll(p))
    assert(e.getMessage.contains("corrupt zsav"), e.getMessage)
  }

  test("sav with a corrupt subtype-21 length field throws the clean diagnostic") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fuzz_lsvl").toString
    val p0 = s"$dir/lsvl.sav"
    (1 to 50).map(i => (i.toDouble, "V" * 20)).toDF("x", "s")
      .write.format("readstat").mode("overwrite")
      .option("valueLabels", s"s:${"V" * 20}=A label").save(p0)
    val p = corruptCopy(p0, "sav") { b =>
      // record-7 subtype-21 header: adjacent LE u32s (7, 21); the first
      // payload u32 (pascal name length) sits 16 bytes past it — set it
      // huge so the bounds guard, not an allocation, decides the outcome
      var at = -1; var k = 0
      while (at < 0 && k < b.length - 8) {
        if (b(k) == 7 && b(k + 1) == 0 && b(k + 2) == 0 && b(k + 3) == 0 &&
            b(k + 4) == 21 && b(k + 5) == 0 && b(k + 6) == 0 && b(k + 7) == 0)
          at = k
        k += 1
      }
      assert(at > 0, "subtype-21 record not found in written sav")
      val off = at + 16
      b(off) = 0xff.toByte; b(off + 1) = 0xff.toByte
      b(off + 2) = 0xff.toByte; b(off + 3) = 0x7f
    }
    val e = intercept[Exception](readAll(p))
    assert(e.getMessage.contains("long-string value label"), e.getMessage)
  }

  test("a dta header claiming rows the file does not hold plans from the file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fuzz_rows").toString
    val p0 = s"$dir/rows.dta"
    (1 to 2000).map(i => (i, i * 1.5)).toDF("id", "v").coalesce(1)
      .write.format("readstat").mode("overwrite").save(p0)
    val md = graft.core.stata.StataParser.parse(p0)
    assert(md.version >= 118 && md.littleEndian)
    // the <N> tag's u64 row count: claim 1.7e14 rows (fuzz dta trial 35)
    val p = corruptCopy(p0, "dta") { b =>
      val n = b.indices.find(i => b.startsWith("<N>".getBytes, i)).get + 3
      java.nio.ByteBuffer.wrap(b, n, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putLong(171092622706640L)
    }
    // one range over the 2000 rows the data section holds (it ends at the
    // map's <strls> offset), one for the rest of the claim
    val parts = Formats.moduleFor(p).planPartitions(p, ReadstatOptions(), None)
    assert(parts.length == 2 && parts.head.startRow == 0 && parts.head.numRows == 2000 &&
      parts.last.startRow == 2000 && parts.last.numRows == 171092622706640L - 2000,
      parts.toString)
    def read(mode: String) = spark.read.format("readstat").option("mode", mode)
      .option("rowIndexName", "_ri").load(p)
    // the declared rows beyond the file fail loudly, as any truncated
    // tail does outside permissive salvage
    Seq("failfast", "dropmalformed").foreach { mode =>
      val e = intercept[Exception](read(mode).agg(org.apache.spark.sql.functions.sum("id")).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[java.io.EOFException]), s"$mode: $e")
    }
    val salvaged = read("permissive")
    assert(salvaged.count() == 2000)
    assert(salvaged.agg(org.apache.spark.sql.functions.sum("id"), org.apache.spark.sql.functions.max("_ri"))
      .collect()(0) == org.apache.spark.sql.Row(2001000L, 1999L))
  }
}
