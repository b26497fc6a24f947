package graft.spark.readstat.writers

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite

/** The one file assembler behind every single-file batch write and every
  * streaming-sink commit: prefix at 0, chunks from the start offset, the
  * declared data end checked, then the trailer and a truncate.
  */
class FileAssemblerSpec extends AnyFunSuite {

  private def tmp(): File = {
    val d = Files.createTempDirectory("graft_assembler").toFile
    d.deleteOnExit()
    d
  }

  private def chunk(dir: File, s: String): String = {
    val f = File.createTempFile("chunk", ".bin", dir)
    Files.write(f.toPath, s.getBytes("US-ASCII"))
    f.getPath
  }

  private def read(f: File): String = new String(Files.readAllBytes(f.toPath), "US-ASCII")

  test("a whole file is prefix, chunks in order, trailer") {
    val dir = tmp()
    val out = new File(dir, "out.bin")
    FileAssembler.write(out.getPath, FileAssembler.whole("HEAD".getBytes,
      Seq(chunk(dir, "ab"), chunk(dir, "cde")), 9,
      FileAssembler.bytes("|END".getBytes)), "test writer")
    assert(read(out) == "HEADabcde|END")
  }

  test("chunks that disagree with the declared data end fail the write and leave no file") {
    val dir = tmp()
    val out = new File(dir, "drift.bin")
    val e = intercept[IllegalArgumentException] {
      FileAssembler.write(out.getPath, FileAssembler.whole("HEAD".getBytes,
        Seq(chunk(dir, "ab"), chunk(dir, "cd")), 9), "test writer")
    }
    assert(e.getMessage.contains("test writer: chunk byte drift"), e.getMessage)
    assert(!out.exists())
    assert(dir.list().forall(_.startsWith("chunk")), dir.list().mkString(", "))
  }

  test("an append splices from the committed end over stale bytes and truncates") {
    val dir = tmp()
    val f = new File(dir, "sink.bin")
    Files.write(f.toPath, "HEAD1ab|END#garbage from a torn commit".getBytes("US-ASCII"))
    val ch = FileChannel.open(f.toPath, StandardOpenOption.READ, StandardOpenOption.WRITE)
    try FileAssembler.assemble(ch, FileAssembler.Layout("HEAD2".getBytes, 7,
      FileAssembler.sized(Seq(chunk(dir, "cd"))), 9, FileAssembler.bytes("|END".getBytes)),
      "test sink")
    finally ch.close()
    assert(read(f) == "HEAD2abcd|END")
  }
}
