package graft

import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.core.util.{DefaultIndenter, DefaultPrettyPrinter, Separators}
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.jdk.CollectionConverters._

/** The one JSON codec of the dev mains' ledgers, result files and
  * result lines (Jackson, shipped with Spark). Values are written from
  * Scala maps, sequences and case classes (a ListMap or TreeMap fixes
  * the field order); a stored number goes through [[num]] so it keeps a
  * fixed number of decimals. Strings are escaped by Jackson, control
  * characters included, so every output parses with a strict reader. */
object Json {
  val mapper: JsonMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN)
    .build()

  def read(text: String): JsonNode = mapper.readTree(text)

  /** Compact, on one line. */
  def write(v: Any): String = mapper.writeValueAsString(v)

  /** One field per line, indented one space per level, `"key": value`
    * (the layout of the committed BASELINE_QUERIES.json). */
  def pretty(v: Any): String = mapper.writer(new DefaultPrettyPrinter(
      Separators.createDefaultInstance()
        .withObjectFieldValueSpacing(Separators.Spacing.AFTER))
      .withObjectIndenter(new DefaultIndenter(" ", "\n")))
    .writeValueAsString(v) + "\n"

  /** `v` rounded to `decimals` places exactly as Locale.ROOT `%.Nf`
    * renders it; null (JSON null) for NaN and infinities. */
  def num(v: Double, decimals: Int): java.math.BigDecimal =
    if (v.isNaN || v.isInfinite) null
    else new java.math.BigDecimal(String.format(java.util.Locale.ROOT,
      s"%.${decimals}f", Double.box(v)))

  /** An object of numbers as a map; an absent node reads as empty. */
  def doubles(node: JsonNode): Map[String, Double] =
    Option(node).toSeq.flatMap(_.properties.asScala)
      .map(e => e.getKey -> e.getValue.asDouble).toMap

  /** The elements of an array node; an absent node reads as empty. */
  def elements(node: JsonNode): Seq[JsonNode] =
    Option(node).toSeq.flatMap(_.asScala)

  /** At most `n` chars of `s`, never splitting a surrogate pair: a lone
    * surrogate cannot be encoded as UTF-8, and `Files.writeString`
    * throws on it. */
  def clip(s: String, n: Int): String =
    if (s.length > n && Character.isHighSurrogate(s.charAt(n - 1)))
      s.take(n - 1)
    else s.take(n)
}
