package graft

import org.json4s.{DefaultFormats, Formats, JValue}
import org.json4s.jackson.JsonMethods

/** The engine's one JSON codec. Encoding: [[jstr]] escapes backslash,
  * quote, and ALL control chars below 0x20 — a stray tab or CR in
  * query SQL or an exception message would otherwise break a strict
  * JSON reader of the Verify or Bench output — and [[obj]]/[[render]]
  * build documents from it. Decoding: json4s
  * [[parse]], fields read with `extract` under [[formats]]. One copy so
  * an escaping fix can never drift between the harnesses (Verify's
  * oracle dump, Bench's result line) and the metadata files
  * ([[graft.state.MetaFile]]). */
private[graft] object JsonUtil {
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One JSON value: strings through [[jstr]], numbers as their
    * `toString`, `None` as null, maps as objects in their iteration
    * order, other collections as arrays. */
  def render(v: Any): String = v match {
    case None => "null"
    case Some(x) => render(x)
    case s: String => jstr(s)
    case m: collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case x @ (_: Int | _: Long | _: Float | _: Double) => x.toString
    case other => throw new IllegalArgumentException(
      s"no JSON form for ${other.getClass.getName}")
  }

  /** A JSON object with `fields` in the given order. */
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => jstr(k) + ":" + render(v) }
      .mkString("{", ",", "}")

  implicit val formats: Formats = DefaultFormats

  /** `exactDecimals` keeps fractional numbers as BigDecimal, for values
    * that must round to Float without passing through Double. */
  def parse(text: String, exactDecimals: Boolean = false): JValue =
    JsonMethods.parse(text, useBigDecimalForDouble = exactDecimals)

  /** Newline-delimited JSON: one value per non-blank line. */
  def parseLines(text: String): Seq[JValue] =
    text.linesIterator.filter(_.trim.nonEmpty).map(parse(_)).toSeq
}
