package graft.perfbench

import java.nio.file.{Files, Path}

/** Minimal JSON for the harness's own files: writes maps, sequences,
  * strings, numbers and booleans; reads a flat string-to-string object. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => str(other.toString)
  }

  /** `{"k": "v", ...}` with plain string values; empty when the file is
    * missing. */
  def readStringMap(p: Path): Map[String, String] =
    if (!Files.isRegularFile(p)) Map.empty
    else {
      val pair = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      pair.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> m.group(2)).toMap
    }
}
