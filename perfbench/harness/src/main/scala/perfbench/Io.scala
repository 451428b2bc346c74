package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Properties

/** Small file helpers: key/value metadata files shared between the
  * generator and the job JVMs, and a JSON writer for results. */
object Io {

  def writeProps(p: Path, kv: Seq[(String, Any)]): Unit = {
    val props = new Properties()
    kv.foreach { case (k, v) => props.setProperty(k, v.toString) }
    val out = Files.newOutputStream(p)
    try props.store(out, null) finally out.close()
  }

  def readProps(p: Path): Map[String, String] = {
    val props = new Properties()
    val in = Files.newInputStream(p)
    try props.load(in) finally in.close()
    props.stringPropertyNames().toArray.map(_.toString)
      .map(k => k -> props.getProperty(k)).toMap
  }

  def writer(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p),
      StandardCharsets.UTF_8), 1 << 16)

  def writeText(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))

  def json(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_]       => s.map(json).mkString("[", ",", "]")
    case other                => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    sb += '"'
    sb.toString
  }
}
