package graftperf

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Minimal JSON writing for the harness's result and trace files, and
  * reading of the recorded expectations. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), (render(v) + "\n").getBytes(UTF_8))

  def read(path: String): JsonNode = new ObjectMapper().readTree(Paths.get(path).toFile)

  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    if (n == null) Nil else n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq
}
