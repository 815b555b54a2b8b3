package perfbench

import java.io.{OutputStream, StringWriter}
import java.time.{LocalDateTime, ZoneOffset}

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import org.apache.spark.sql.Row

/** JSON output of the harness: plain Scala values (maps, sequences,
  * numbers, strings) for reports, and Spark result rows for the checker.
  *
  * Row values are rendered so DuckDB's Python values can be normalised to
  * the same form: timestamps as UTC `YYYY-MM-DDTHH:MM:SS.ffffff`, dates as
  * `YYYY-MM-DD`, binary as hex, structs as objects, maps as
  * `{"$map": [[key, value], ...]}`, non-finite doubles as the strings
  * `NaN`, `Infinity`, `-Infinity`.
  */
object Json {
  private val factory = new JsonFactory()

  def render(v: Any): String = {
    val w = new StringWriter()
    val g = factory.createGenerator(w)
    write(g, v)
    g.close()
    w.toString
  }

  def generator(out: OutputStream): JsonGenerator = factory.createGenerator(out)

  /** A result row, as the list of its values. */
  def writeRow(g: JsonGenerator, r: Row): Unit = write(g, r.toSeq, rows = true)

  def write(g: JsonGenerator, v: Any, rows: Boolean = false): Unit = v match {
    case null | None => g.writeNull()
    case Some(x) => write(g, x, rows)
    case s: String => g.writeString(s)
    case b: Boolean => g.writeBoolean(b)
    case i: Int => g.writeNumber(i)
    case l: Long => g.writeNumber(l)
    case s: Short => g.writeNumber(s.toInt)
    case b: Byte => g.writeNumber(b.toInt)
    case d: Double =>
      if (d.isNaN) g.writeString("NaN")
      else if (d.isInfinite) g.writeString(if (d > 0) "Infinity" else "-Infinity")
      else g.writeNumber(d)
    case f: Float => write(g, f.toDouble)
    case d: java.math.BigDecimal => g.writeNumber(d)
    case d: scala.math.BigDecimal => g.writeNumber(d.bigDecimal)
    case d: java.sql.Date => g.writeString(d.toLocalDate.toString)
    case d: java.time.LocalDate => g.writeString(d.toString)
    case t: java.sql.Timestamp => g.writeString(iso(LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC)))
    case t: java.time.Instant => g.writeString(iso(LocalDateTime.ofInstant(t, ZoneOffset.UTC)))
    case t: LocalDateTime => g.writeString(iso(t))
    case b: Array[Byte] => g.writeString(b.map("%02x".format(_)).mkString)
    case r: Row =>
      g.writeStartObject()
      val names = Option(r.schema).map(_.fieldNames.toSeq)
        .getOrElse((0 until r.length).map(i => s"_$i"))
      names.zipWithIndex.foreach { case (n, i) => g.writeFieldName(n); write(g, r.get(i), rows) }
      g.writeEndObject()
    case m: scala.collection.Map[_, _] if rows =>
      g.writeStartObject()
      g.writeFieldName("$map")
      g.writeStartArray()
      m.foreach { case (k, x) => g.writeStartArray(); write(g, k, rows); write(g, x, rows); g.writeEndArray() }
      g.writeEndArray()
      g.writeEndObject()
    case m: scala.collection.Map[_, _] =>
      g.writeStartObject()
      m.foreach { case (k, x) => g.writeFieldName(k.toString); write(g, x) }
      g.writeEndObject()
    case s: scala.collection.Iterable[_] =>
      g.writeStartArray(); s.foreach(write(g, _, rows)); g.writeEndArray()
    case a: Array[_] =>
      g.writeStartArray(); a.foreach(write(g, _, rows)); g.writeEndArray()
    case other => g.writeString(other.toString)
  }

  private def iso(t: LocalDateTime): String =
    f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02dT" +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.${t.getNano / 1000}%06d"
}
