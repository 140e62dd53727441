package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Minimal JSON writing, plus the canonical encoding of result rows that
  * `oracle.py` compares against DuckDB: timestamps as epoch microseconds,
  * dates as epoch days, decimals as numbers, structs as lists, maps as
  * key-sorted pair lists. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString) else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => x.toPlainString
    case x: BigDecimal => x.bigDecimal.toPlainString
    case x: String => str(x)
    case x: java.sql.Timestamp =>
      val i = x.toInstant
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case x: java.time.Instant =>
      (x.getEpochSecond * 1000000L + x.getNano / 1000).toString
    case x: java.time.LocalDateTime =>
      (x.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        x.getNano / 1000).toString
    case x: java.sql.Date => x.toLocalDate.toEpochDay.toString
    case x: java.time.LocalDate => x.toEpochDay.toString
    case x: Array[Byte] => str(x.map("%02x".format(_)).mkString)
    case x: Row => arr(x.toSeq.map(value))
    case x: scala.collection.Map[_, _] =>
      arr(x.toSeq.map { case (k, w) => (value(k), value(w)) }
        .sortBy(_._1).map { case (k, w) => s"[$k,$w]" })
    case x: Iterable[_] => arr(x.map(value))
    case x: Array[_] => arr(x.toSeq.map(value))
    case x => str(x.toString)
  }

  /** `{"name":..,"columns":[..],"rows":[[..],..]}` for one result. */
  def result(name: String, schema: StructType, rows: Array[Row]): String =
    obj(Seq("name" -> str(name),
            "columns" -> arr(schema.fieldNames.map(str)),
            "rows" -> arr(rows.map(value))))
}
