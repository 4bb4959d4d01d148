package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The little JSON the harness writes: its result file, spans and result
  * rows for the oracle compare. */
object Json {
  def str(s: String): String = graft.util.Json.quote(s)

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: BigInt) => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Kind code per column, read by the oracle compare: integral `i`, float
    * `f`, decimal `d`, string `s`, boolean `b`, timestamp `t` (epoch µs),
    * date `D` (epoch days), array or struct `l`. */
  def kind(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "i"
    case FloatType | DoubleType => "f"
    case _: DecimalType => "d"
    case BooleanType => "b"
    case TimestampType | TimestampNTZType => "t"
    case DateType => "D"
    case _: ArrayType | _: StructType => "l"
    case _ => "s"
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "\"NaN\"" else if (d.isInfinite) (if (d > 0) "\"Infinity\"" else "\"-Infinity\"")
    else d.toString

  /** One result cell, typed by its column (see [[kind]]). */
  def cell(v: Any, dt: DataType): String = if (v == null) "null" else dt match {
    case ByteType | ShortType | IntegerType | LongType => v.toString
    case FloatType => dbl(v.asInstanceOf[Float].toDouble)
    case DoubleType => dbl(v.asInstanceOf[Double])
    case _: DecimalType => str(v.asInstanceOf[java.math.BigDecimal].toPlainString)
    case BooleanType => v.toString
    case TimestampType | TimestampNTZType => v match {
      case t: java.sql.Timestamp => (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
      case i: java.time.Instant => (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
      case l: java.time.LocalDateTime =>
        val i = l.toInstant(java.time.ZoneOffset.UTC)
        (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
      case other => str(other.toString)
    }
    case DateType => v match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
      case d: java.time.LocalDate => d.toEpochDay.toString
      case other => str(other.toString)
    }
    case ArrayType(et, _) =>
      v.asInstanceOf[scala.collection.Seq[Any]].map(cell(_, et)).mkString("[", ",", "]")
    case StructType(fs) =>
      val r = v.asInstanceOf[Row]
      fs.indices.map(i => cell(r.get(i), fs(i).dataType)).mkString("[", ",", "]")
    case _ => str(v.toString)
  }

  def row(r: Row, schema: StructType): String =
    schema.fields.indices.map(i => cell(r.get(i), schema(i).dataType)).mkString("[", ",", "]")
}
