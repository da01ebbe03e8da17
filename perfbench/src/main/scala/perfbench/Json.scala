package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON output (ordered objects, numbers with all their digits)
  * plus reading of flat string maps such as the digest files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), (text + "\n").getBytes(StandardCharsets.UTF_8))

  def readStringMap(path: String): Map[String, String] = {
    val node = new ObjectMapper().readTree(new java.io.File(path))
    val b = Map.newBuilder[String, String]
    val it = node.fields()
    while (it.hasNext) {
      val e = it.next()
      b += e.getKey -> e.getValue.asText()
    }
    b.result()
  }
}
