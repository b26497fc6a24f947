package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.spark.readstat.{Formats, ReadstatOptions}

/** The inputs' manifest: generator version, seed, each file's size and
  * row count, and the expected result of every operation. */
object Manifest {
  final case class FileEntry(bytes: Long, rows: Long)
  final case class Doc(version: String, seed: Long,
      files: Map[String, FileEntry], expected: Map[String, Map[String, Any]])

  private val mapper = new ObjectMapper()

  /** A file matches its entry when its size and its metadata row count
    * both agree with the manifest. */
  def fileMatches(f: File, e: Option[FileEntry]): Boolean = e.exists { e =>
    f.isFile && f.length() == e.bytes &&
      (try Formats.exactRowCount(f.getPath, ReadstatOptions()).contains(e.rows)
      catch { case _: Exception => false })
  }

  /** Names of the files that disagree with the manifest. */
  def mismatches(dir: File, m: Doc): Seq[String] =
    m.files.toSeq.sortBy(_._1).collect {
      case (n, e) if !fileMatches(new File(dir, n), Some(e)) => n
    }

  def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case o => o
  }

  def write(m: Doc, f: File): Unit = {
    val doc = Map(
      "version" -> m.version, "seed" -> m.seed,
      "files" -> m.files.map { case (n, e) =>
        n -> Map("bytes" -> e.bytes, "rows" -> e.rows) },
      "expected" -> m.expected)
    val tmp = new File(f.getPath + ".tmp")
    mapper.writerWithDefaultPrettyPrinter().writeValue(tmp, toJava(doc))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def value(n: JsonNode): Any =
    if (n.isIntegralNumber) n.longValue() else n.doubleValue()

  def read(f: File): Option[Doc] =
    if (!f.isFile) None
    else try {
      val n = mapper.readTree(f)
      val files = n.get("files").fields().asScala.map { e =>
        e.getKey -> FileEntry(e.getValue.get("bytes").longValue(),
          e.getValue.get("rows").longValue())
      }.toMap
      val expected = n.get("expected").fields().asScala.map { e =>
        e.getKey -> e.getValue.fields().asScala
          .map(x => x.getKey -> value(x.getValue)).toMap
      }.toMap
      Some(Doc(n.get("version").asText(), n.get("seed").longValue(), files, expected))
    } catch { case _: Exception => None }
}
