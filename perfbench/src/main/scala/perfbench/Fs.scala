package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** File-system helpers: restore a pristine tree with hard links (the
  * program only ever adds files, so links are never written through),
  * delete a tree, and measure what a run persisted.
  */
object Fs {

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Using.resource(Files.walk(p))(_.iterator().asScala.toList)

  /** Recreate `src` under `dst`, hard-linking every file. */
  def linkTree(src: Path, dst: Path): Unit =
    walk(src).foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.createLink(t, p)
    }

  def deleteTree(p: Path): Unit =
    walk(p).reverse.foreach(Files.deleteIfExists)

  /** Data files: everything but checksums, markers and hidden files. */
  def dataFiles(p: Path): Seq[Path] = walk(p).filter { f =>
    val n = f.getFileName.toString
    Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
  }

  /** Bytes of every regular file under `p` (checksums included: they are
    * persisted too).
    */
  def bytes(p: Path): Long =
    walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum
}

/** Counts read straight from written JSON lines: rows, and recommended
  * items whose struct carries nothing but its id. The JSON writer drops
  * null fields, so a decorate miss is serialized as `{"itemId":"x000042"}`
  * while a catalog hit always carries its metadata fields.
  */
final case class JsonlCounts(lines: Long, bareMisses: Long, bareHits: Long)

object JsonlCounts {
  private val Key = "{\"itemId\":\"".getBytes("UTF-8")
  private val IdLen = 7 // Gen.item / Gen.missItem ids

  def of(dir: Path): JsonlCounts =
    Fs.dataFiles(dir).map(f => ofBytes(Files.readAllBytes(f)))
      .foldLeft(JsonlCounts(0, 0, 0))((a, b) =>
        JsonlCounts(a.lines + b.lines, a.bareMisses + b.bareMisses,
          a.bareHits + b.bareHits))

  def ofBytes(b: Array[Byte]): JsonlCounts = {
    var lines, misses, hits = 0L
    var i = 0
    while (i < b.length) {
      if (b(i) == '\n') lines += 1
      else if (b(i) == '{' && matches(b, i)) {
        val end = i + Key.length + IdLen
        if (end + 1 < b.length && b(end) == '"' && b(end + 1) == '}') {
          if (b(i + Key.length) == 'x') misses += 1 else hits += 1
        }
      }
      i += 1
    }
    JsonlCounts(lines, misses, hits)
  }

  private def matches(b: Array[Byte], at: Int): Boolean = {
    var k = 0
    while (k < Key.length && at + k < b.length && b(at + k) == Key(k)) k += 1
    k == Key.length
  }
}

/** One output check: an expected count from the generator's bookkeeping
  * against what the run produced.
  */
final case class Check(name: String, expected: Long, actual: Long) {
  def ok: Boolean = expected == actual
  override def toString: String = s"$name expected $expected got $actual"
}

object Check {
  def failures(cs: Seq[Check]): Seq[String] = cs.filterNot(_.ok).map(_.toString)
}
