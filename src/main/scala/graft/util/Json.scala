package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** The engine's one JSON grammar. Every surface that emits JSON by
  * hand (Verify's oracle dump, the HTTP server, the metadata writers)
  * escapes strings with [[escape]]; every reader — the HTTP ingest
  * body, the artifact gate and each metadata file (manifests, catalog,
  * sidecars, cursor) — goes through [[parse]] and the typed accessors
  * below. Escaping covers backslash, quote and ALL control chars
  * (<0x20): a missed control char would break a standard json.load.
  */
object Json {
  def escape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Would a standard parser (the driver's json.load) accept `s` as
    * ONE complete document? The ship-gate on hand-built artifacts — a
    * truncated or mis-escaped record must fail at the producer, not
    * at grading time. */
  def isValid(s: String): Boolean =
    try { parse(s); true }
    catch { case _: Exception => false }

  /** Parse one JSON document into Scala values — Map[String, Any],
    * Vector[Any], String, Long (integral within Long range) / Double
    * (fractional, or an integer beyond Long), Boolean, null. Loud on
    * any malformed input. */
  def parse(s: String): Any = {
    val p = new AstParser(s); val v = p.value(); p.end(); v
  }

  /** Read the UTF-8 file `p` and turn its text into a `T` with
    * `convert` (typically [[parse]] plus the accessors below); any
    * failure is rethrown naming the file. */
  def readFile[T](fs: FileSystem, p: Path)(convert: String => T): T = {
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    try convert(text)
    catch { case scala.util.control.NonFatal(e) =>
      throw new IllegalArgumentException(s"malformed $p: ${e.getMessage}", e)
    }
  }

  // -- typed views of a parsed value; each is loud on a wrong type,
  //    naming `what` (the field or file the value came from) --

  /** [[parse]] `text`, which must hold one object. */
  def parseObj(text: String, what: String): Map[String, Any] = obj(parse(text), what)
  def obj(v: Any, what: String): Map[String, Any] = v match {
    case m: Map[String, Any] @unchecked => m
    case other => wrongType(what, "an object", other)
  }
  def str(v: Any, what: String): String = v match {
    case s: String => s
    case other => wrongType(what, "a string", other)
  }
  def arr(v: Any, what: String): Vector[Any] = v match {
    case xs: Vector[Any @unchecked] => xs
    case other => wrongType(what, "an array", other)
  }
  def strs(v: Any, what: String): Vector[String] = arr(v, what).map(str(_, what))
  def long(v: Any, what: String): Long = v match {
    case n: Long => n
    case other => wrongType(what, "an integer", other)
  }
  /** `m(k)`, loud when the field is absent. */
  def field(m: Map[String, Any], k: String): Any =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing field '$k'"))
  /** A JSON object of strings as a string map. */
  def strMap(v: Any, what: String): Map[String, String] =
    obj(v, what).map { case (k, x) => k -> str(x, s"$what.$k") }

  private def wrongType(what: String, want: String, got: Any): Nothing =
    throw new IllegalArgumentException(s"$what: expected $want, got ${String.valueOf(got).take(80)}")

  private final class AstParser(t: String) {
    private var i = 0
    private def ws(): Unit =
      while (i < t.length && Character.isWhitespace(t(i))) i += 1
    private def fail(): Nothing =
      throw new IllegalArgumentException(s"bad json at offset $i")
    private def expect(c: Char): Unit = {
      if (i >= t.length || t(i) != c) fail(); i += 1
    }
    def end(): Unit = { ws(); if (i != t.length) fail() }
    def value(): Any = {
      ws()
      if (i >= t.length) fail()
      t(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => lit("true"); true
        case 'f' => lit("false"); false
        case 'n' => lit("null"); null
        case c if c == '-' || c.isDigit => num()
        case _ => fail()
      }
    }
    private def obj(): Map[String, Any] = {
      expect('{'); ws()
      val m = Map.newBuilder[String, Any]
      if (i < t.length && t(i) == '}') { i += 1; return m.result() }
      var more = true
      while (more) {
        ws(); val k = str(); ws(); expect(':'); m += k -> value(); ws()
        if (i < t.length && t(i) == ',') i += 1 else more = false
      }
      expect('}')
      m.result()
    }
    private def arr(): Vector[Any] = {
      expect('['); ws()
      val b = Vector.newBuilder[Any]
      if (i < t.length && t(i) == ']') { i += 1; return b.result() }
      var more = true
      while (more) {
        b += value(); ws()
        if (i < t.length && t(i) == ',') i += 1 else more = false
      }
      expect(']')
      b.result()
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (i < t.length && t(i) != '"') {
        if (t(i) == '\\') {
          if (i + 1 >= t.length) fail()
          t(i + 1) match {
            case '"' => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '/' => sb.append('/'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case 'u' =>
              if (i + 6 > t.length) fail()
              val hex = t.substring(i + 2, i + 6)
              if (!hex.forall(Character.digit(_, 16) >= 0)) fail()
              sb.append(Integer.parseInt(hex, 16).toChar)
              i += 6
            case _ => fail()
          }
        } else { sb.append(t(i)); i += 1 }
      }
      expect('"')
      sb.toString
    }
    private def lit(w: String): Unit = {
      if (!t.startsWith(w, i)) fail(); i += w.length
    }
    private def num(): Any = {
      val start = i
      if (i < t.length && t(i) == '-') i += 1
      while (i < t.length && (t(i).isDigit || "+-.eE".indexOf(t(i).toInt) >= 0))
        i += 1
      if (i == start) fail()
      val text = t.substring(start, i)
      // an integer beyond Long range reads as a Double, as json.load
      // would accept it
      val integral =
        if (text.exists(c => c == '.' || c == 'e' || c == 'E')) None
        else text.toLongOption
      integral.getOrElse {
        val d = text.toDoubleOption.getOrElse(fail())
        if (d.isNaN || d.isInfinite) fail()
        d
      }
    }
  }
}
