package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** Order-independent fingerprint of a set of text rows: row count plus the
  * wrapping sum of a 64-bit hash of each row. Two outputs with the same
  * multiset of rows agree however they are partitioned or ordered. */
final case class Fingerprint(rows: Long, sum: Long) {
  def +(line: String): Fingerprint = Fingerprint(rows + 1, sum + Fingerprint.hash(line))
  def show: String = s"$rows rows / ${java.lang.Long.toHexString(sum)}"
}

object Fingerprint {
  val Empty: Fingerprint = Fingerprint(0L, 0L)

  def hash(line: String): Long =
    (MurmurHash3.stringHash(line, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(line, 0x1b873593).toLong & 0xffffffffL)

  /** Fingerprint of the data files under a Spark text/CSV output directory.
    * `prefix` maps each data file to a string prepended to its rows (the
    * partition value of a partitioned write). */
  def ofCsvDir(dir: Path, prefix: Path => String = _ => ""): Fingerprint = {
    val files = Files.walk(dir)
    try files.iterator().asScala
      .filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString; !n.startsWith("_") && !n.startsWith(".")
      })
      .foldLeft(Empty) { (fp, f) =>
        val pre = prefix(f)
        Files.readAllLines(f, StandardCharsets.UTF_8).asScala
          .foldLeft(fp)((acc, l) => acc + (pre + l))
      }
    finally files.close()
  }
}
