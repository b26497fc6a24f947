package graft.readstat

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.spark.readstat.writers.{ChunkMessage, SasStreamSink, SavStreamSink,
  StataStreamSink, StreamSinkCore, XptStreamSink, ZsavStreamSink}

/** Output bytes of the single-file streaming sinks.
  *
  * Each sink encodes fixed rows into chunks with its own chunk writer
  * and commits them through its epoch commit, as a streaming query's
  * StreamingWrite does. The SHA-256 of the file after one epoch and
  * after two, and of the sidecar state after two, pin that a change to
  * the commit path moves no byte. The read-back specs in
  * StreamingWriteSpec check values only.
  */
class SinkBytesSpec extends SparkTestBase {

  private val schema = StructType.fromDDL("id DOUBLE, n INT, s STRING")

  private def row(i: Int): InternalRow = InternalRow(i * 1.25, i % 4,
    if (i % 5 == 3) null else UTF8String.fromString("v" + ("ab" * (i % 3)) + i))

  /** One partition's rows, encoded by the sink's own chunk writer. */
  private def chunk(fmt: StreamSinkCore.Format, opts: Map[String, String],
      pid: Int, ids: Range): (Int, String, Long) = {
    val w = fmt.chunkWriter(schema, opts, pid)
    ids.foreach(i => w.write(row(i)))
    val m = w.commit().asInstanceOf[ChunkMessage]
    w.close()
    (m.pid, m.file, m.rows)
  }

  private def sha256(f: File): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(f.toPath)).map(b => f"$b%02x").mkString

  private val labels = Map(
    "valueLabels" -> "n:0=zero,1=one,3=three",
    "varLabels" -> "id:Row id|s:Some text")

  private val Sinks: Seq[(String, StreamSinkCore.Format, Map[String, String])] = Seq(
    ("dta", StataStreamSink, labels + ("strWidth.s" -> "12")),
    ("sav", SavStreamSink, labels + ("strWidth.s" -> "12")),
    ("zsav", ZsavStreamSink, labels + ("strWidth.s" -> "12")),
    ("xpt", XptStreamSink, Map("strWidth.s" -> "11", "varLabels" -> "id:Row id",
      "tableName" -> "PINNED")),
    ("sas7bdat", SasStreamSink, Map("strWidth.s" -> "12", "varLabels" -> "id:Row id")),
    ("sas7bdat-rle", SasStreamSink, Map("strWidth.s" -> "12", "compression" -> "rle")))

  /** Recorded before the sinks shared the batch writers' file assembler. */
  private val Pinned: Map[String, String] = Map(
    "dta.1" -> "bdb2990c303a195a2ea1e9e5a0163764237c96369a64caa71d16e8cf45465d21",
    "dta.2" -> "d18b71fdd252e245a0c833a15669c101a39ce48ac711b7ea2d85ffee4773e1bb",
    "dta.state" -> "f812d826546d32ab1030ff1c2c7eb149f7dc896a62e2f7452a5c961e0d1087c4",
    "sas7bdat-rle.1" -> "37f9c7b45640a7c37a44310ff9f3a42d8e04ea8f817558fa92ab8c6589dd8909",
    "sas7bdat-rle.2" -> "c1eccb46f451b18284a9888712b8e68ac0eae80691cbaeb6ab8b883e318043e0",
    "sas7bdat-rle.state" -> "2b634e328e2c364c8942457e6871bef6e70d768e9ce9506895a43ff76d1a9f49",
    "sas7bdat.1" -> "8638af8948a99a7f93c66f8693fac0ff75be11f0b2e1e8f7e8abd4cd847391bf",
    "sas7bdat.2" -> "d5b6bf2e7e2a62157d0bb2c33169b6d9318ee93472c9167111b9d09955cad2a0",
    "sas7bdat.state" -> "0d5406d480509d7f6a71fb246cfc1711ac67db2b874b70b591250fa070312960",
    "sav.1" -> "81ebd4cf1eec3dc1808718711b200d3590fdf04aad562c3279f97863d77b2d90",
    "sav.2" -> "67408fbe0b2d585cb8d114948c112f4d2560b5909d6e4339c0e732bc1ef37fb3",
    "sav.state" -> "36c0dbbf224a7b1b7252e9573fb4225a2b3ef021a1ebff77d916b87d1cec7a95",
    "xpt.1" -> "0fb5d5dfc90bfde70a0a27bb6e0eb785587796a6a4af90dd7259c1f184ef0685",
    "xpt.2" -> "5c926b0b5f330594b25e4e4fa9a66ce4e1e941971c8956a175b381b9403a111e",
    "xpt.state" -> "2ddf4f86b73f930e40c3fde6ff6fcbe92c36eb66b63706015274b455dfe8b665",
    "zsav.1" -> "2dcba96c966b5a5648c28e5c2969af705464f73be654d517721d7d6a404e5e76",
    "zsav.2" -> "406fcd1badcbf9b3b39ed61d1e2a2236e4075e4b3dcdfc2ac7fadaad28bc266b",
    "zsav.state" -> "f9432487017722b300313c9ede53900b13f35ecc87d82b5f5d0973cc0664245f")

  test("every streaming sink's one- and two-epoch files match their pinned digests") {
    val dir = Files.createTempDirectory("graft_sinkbytes").toFile
    dir.deleteOnExit()
    val got = Sinks.flatMap { case (name, fmt, opts0) =>
      val ext = if (name.startsWith("sas7bdat")) "sas7bdat" else name
      val sink = new File(s"$dir/$name.$ext")
      val opts = opts0 + ("scratchDir" -> s"$dir/scratch")
      // partitions out of order, and an empty one in the second epoch
      fmt.commit(sink.getPath, 0L, "q", Seq(chunk(fmt, opts, 1, 3 until 5),
        chunk(fmt, opts, 0, 0 until 3)), schema, opts)
      val one = sha256(sink)
      fmt.commit(sink.getPath, 1L, "q", Seq(chunk(fmt, opts, 0, 5 until 205),
        chunk(fmt, opts, 1, 0 until 0)), schema, opts)
      assert(spark.read.format("readstat").load(sink.getPath).count() == 205L, name)
      Seq(s"$name.1" -> one, s"$name.2" -> sha256(sink),
        s"$name.state" -> sha256(new File(sink.getPath + ".stream_state")))
    }.toMap
    assert(got == Pinned, got.toSeq.sorted.map { case (k, v) => s"\"$k\" -> \"$v\"" }
      .mkString(",\n"))
  }
}
