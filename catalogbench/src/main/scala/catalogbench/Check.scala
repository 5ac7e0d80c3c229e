package catalogbench

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import java.io.File
import scala.jdk.CollectionConverters._

/** Compares a query's collected output with its DuckDB oracle result,
  * under the normalization rules of `dev/check_oracles.py`:
  *  - columns are ordered by name, and the name lists must be equal;
  *  - NaN becomes the string "NaN" and -0.0 becomes 0.0;
  *  - rows are sorted by their non-float cells, with floats rounded to
  *    6 decimals as a tie-break;
  *  - top-level floats match within an absolute 1e-9, every other cell
  *    (nested floats included) must be equal.
  *
  * Oracle results arrive as column-typed JSON written by `oracles.py`;
  * both sides are decoded into the same value tree and sorted here, so
  * one sort order serves both.
  */
object Check {

  sealed trait V
  case object VNull extends V
  final case class VBool(b: Boolean) extends V
  /** An exact number, as its canonical decimal text. */
  final case class VNum(text: String) extends V
  final case class VF(x: Double) extends V
  final case class VStr(s: String) extends V
  final case class VBytes(hex: String) extends V
  final case class VTs(us: Long) extends V
  final case class VDate(days: Long) extends V
  final case class VList(xs: Seq[V]) extends V
  final case class VStruct(fields: Seq[(String, V)]) extends V
  final case class VOther(s: String) extends V

  final case class Table(cols: Seq[String], rows: Seq[Seq[V]])

  private def num(d: java.math.BigDecimal): V =
    VNum(if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString)

  private def num(text: String): V =
    if (text.exists(c => c == '.' || c == 'e' || c == 'E'))
      num(new java.math.BigDecimal(text))
    else VNum(text)

  /** Spark external value -> value tree. */
  def fromSpark(x: Any): V = x match {
    case null => VNull
    case b: Boolean => VBool(b)
    case b: Byte => VNum(b.toString)
    case s: Short => VNum(s.toString)
    case i: Int => VNum(i.toString)
    case l: Long => VNum(l.toString)
    case d: java.math.BigDecimal => num(d)
    case d: scala.math.BigDecimal => num(d.bigDecimal)
    case f: Float => VF(f.toDouble)
    case d: Double => VF(d)
    case s: String => VStr(s)
    case a: Array[Byte] => VBytes(a.map("%02x".format(_)).mkString)
    case t: java.sql.Timestamp =>
      VTs(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      VTs(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      VTs(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case d: java.sql.Date => VDate(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => VDate(d.toEpochDay)
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq)
        .getOrElse(r.toSeq.indices.map(i => s"f$i"))
      VStruct(names.zip(r.toSeq.map(fromSpark)))
    case m: scala.collection.Map[_, _] =>
      VStruct(m.toSeq.map { case (k, v) => (render(fromSpark(k)), fromSpark(v)) }
        .sortBy(_._1))
    case s: scala.collection.Seq[_] => VList(s.map(fromSpark).toSeq)
    case other => VOther(other.toString)
  }

  /** A tagged oracle cell (see oracles.py `encode`) -> value tree. */
  def fromJson(n: JsonNode): V =
    if (n == null || n.isNull) VNull
    else if (n.isBoolean) VBool(n.booleanValue)
    else if (n.isTextual) VStr(n.textValue)
    else if (n.isArray) VList(n.elements.asScala.map(fromJson).toSeq)
    else if (n.isObject) {
      val entry = n.properties.iterator.next()
      val v = entry.getValue
      entry.getKey match {
        case "n" => num(v.asText)
        case "f" =>
          if (v.isTextual) VF(v.textValue match {
            case "NaN" => Double.NaN
            case "Infinity" => Double.PositiveInfinity
            case _ => Double.NegativeInfinity
          }) else VF(v.doubleValue)
        case "x" => VBytes(v.textValue)
        case "t" => VTs(v.longValue)
        case "d" => VDate(v.longValue)
        case "s" => VStruct(v.elements.asScala.map { kv =>
          (kv.get(0).textValue, fromJson(kv.get(1)))
        }.toSeq)
        case _ => VOther(v.asText)
      }
    } else VOther(n.toString)

  /** A stable text form, used as the sort key of non-float cells. */
  def render(v: V): String = v match {
    case VNull => "None"
    case VBool(b) => b.toString
    case VNum(t) => t
    case VF(x) => x.toString
    case VStr(s) => s
    case VBytes(h) => "0x" + h
    case VTs(us) => s"ts:$us"
    case VDate(d) => s"d:$d"
    case VList(xs) => xs.map(render).mkString("[", ", ", "]")
    case VStruct(fs) => fs.map { case (k, x) => s"$k: ${render(x)}" }
      .mkString("{", ", ", "}")
    case VOther(s) => s
  }

  private def normCell(v: V): V = v match {
    case VF(x) if x.isNaN => VStr("NaN")
    case VF(x) if x == 0.0 => VF(0.0)
    case other => other
  }

  private def round6(x: Double): Double =
    if (x.isInfinite || math.abs(x) > 1e9) x else math.rint(x * 1e6) / 1e6

  /** Sort key of a normalized row: its non-float cells as one string
    * (null-ness first in each cell, as check_oracles' `(x is None,
    * str(x))`), then its floats rounded to 6 decimals. */
  private final case class Key(text: String, floats: Array[Double])

  private val keyOrdering: Ordering[Key] = (a: Key, b: Key) => {
    val c = a.text.compareTo(b.text)
    if (c != 0) c
    else {
      var i = 0
      var r = 0
      while (r == 0 && i < math.min(a.floats.length, b.floats.length)) {
        r = java.lang.Double.compare(a.floats(i), b.floats(i))
        i += 1
      }
      if (r != 0) r else Integer.compare(a.floats.length, b.floats.length)
    }
  }

  private def key(r: Seq[V]): Key = {
    val sb = new java.lang.StringBuilder
    val fs = Array.newBuilder[Double]
    r.foreach {
      case VF(x) => fs += round6(x)
      case c =>
        sb.append(if (c == VNull) '1' else '0').append(render(c)).append('\u0000')
    }
    Key(sb.toString, fs.result())
  }

  private def normalize(t: Table): Table = {
    val order = t.cols.indices.sortBy(t.cols(_))
    val rows = t.rows.map(r => order.map(i => normCell(r(i))))
    Table(order.map(t.cols), rows.map(r => (key(r), r)).sortBy(_._1)(keyOrdering)
      .map(_._2))
  }

  private def cellEqual(a: V, b: V): Boolean = (a, b) match {
    case (VF(x), VF(y)) => math.abs(x - y) <= 1e-9
    case (VF(x), VNum(d)) =>
      !x.isInfinite && new java.math.BigDecimal(x).compareTo(new java.math.BigDecimal(d)) == 0
    case (VNum(d), VF(x)) => cellEqual(VF(x), VNum(d))
    case _ => a == b
  }

  /** None when equal; otherwise a one-line reason. */
  def compare(got: Table, want: Table): Option[String] = {
    val g = normalize(got)
    val w = normalize(want)
    if (g.cols != w.cols)
      Some(s"COLS got=${g.cols.mkString(",")} oracle=${w.cols.mkString(",")}")
    else if (g.rows.size != w.rows.size)
      Some(s"ROWCOUNT got=${g.rows.size} oracle=${w.rows.size}")
    else {
      val bad = g.rows.zip(w.rows).filterNot { case (a, b) =>
        a.zip(b).forall { case (x, y) => cellEqual(x, y) }
      }
      bad.headOption.map { case (a, b) =>
        s"${bad.size} of ${g.rows.size} rows differ; first got=" +
          a.map(render).mkString("(", ", ", ")").take(300) + " oracle=" +
          b.map(render).mkString("(", ", ", ")").take(300)
      }
    }
  }

  def fromRows(schema: StructType, rows: Array[Row]): Table =
    Table(schema.fieldNames.toSeq,
      rows.toSeq.map(r => r.toSeq.map(fromSpark)))

  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build()

  /** One oracle column: `type` says how its JSON values decode. */
  private def column(tpe: String, values: JsonNode): Seq[V] =
    values.elements.asScala.map { n =>
      if (n.isNull) VNull
      else tpe match {
        case "n" => num(n.asText)
        case "f" => VF(n.asDouble)
        case "b" => VBool(n.booleanValue)
        case "t" => VTs(n.longValue)
        case "d" => VDate(n.longValue)
        case "x" => VBytes(n.textValue)
        case "s" => VStr(n.textValue)
        case _ => fromJson(n)
      }
    }.toSeq

  /** Reads `{"columns": [...], "types": [...], "data": [[...], ...]}`,
    * one value list per column. */
  def loadOracle(file: File): Table = {
    val root = mapper.readTree(file)
    val cols = root.get("columns").elements.asScala.map(_.textValue).toSeq
    val types = root.get("types").elements.asScala.map(_.textValue).toSeq
    val data = types.zip(root.get("data").elements.asScala.toSeq)
      .map { case (t, vs) => column(t, vs).toArray }
    val n = data.headOption.map(_.length).getOrElse(0)
    Table(cols, (0 until n).map(i => data.map(_(i))))
  }
}
