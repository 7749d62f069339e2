package stackbench

import java.math.RoundingMode

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

/** Rows as plain maps, and their canonical text form: columns sorted by
  * name, numbers at 9 decimal places, dates ISO. Both the program's output
  * and the benchmark's own expectations go through it. */
object Canon {
  type R = Map[String, Any]

  private val mapper = new ObjectMapper()

  def readJsonl(path: String): Seq[R] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.trim.nonEmpty).map { l =>
      mapper.readValue(l, classOf[java.util.Map[String, Any]]).asScala.toMap
        .map { case (k, v) => k -> fromJava(v) }
    }.toSeq

  private def fromJava(v: Any): Any = v match {
    case l: java.util.List[_] => l.asScala.toSeq.map(fromJava)
    case other => other
  }

  def fromRow(r: Row): R = r.schema.fieldNames.zipWithIndex.map { case (f, i) =>
    f -> (r.get(i) match {
      case s: scala.collection.Seq[_] => s.toSeq
      case other => other
    })
  }.toMap

  def num(v: Any): BigDecimal = v match {
    case b: java.math.BigDecimal => BigDecimal(b)
    case b: BigDecimal => b
    case n: java.lang.Number => BigDecimal(n.toString)
    case s: String => BigDecimal(s)
  }

  def norm(v: Any): String = v match {
    case null => "∅"
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case b: java.lang.Boolean => b.toString
    case n @ (_: java.lang.Number | _: BigDecimal) =>
      num(n).bigDecimal.setScale(9, RoundingMode.HALF_UP).stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case other => other.toString
  }

  def line(r: R): String = r.toSeq.sortBy(_._1).map { case (c, v) => s"$c=${norm(v)}" }
    .mkString("|")

  /** A sort key: value extractor, descending, nulls first. */
  final case class Key(f: R => Any, desc: Boolean = false, nullsFirst: Option[Boolean] = None)

  private def cmpVal(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => x.compareTo(y)
    case (x, y) => num(x).compare(num(y))
  }

  def ordering(keys: Seq[Key]): Ordering[R] = new Ordering[R] {
    def compare(a: R, b: R): Int = keys.iterator.map { k =>
      val (x, y) = (k.f(a), k.f(b))
      // Spark: ascending puts nulls first, descending puts them last
      val nf = k.nullsFirst.getOrElse(!k.desc)
      if (x == null && y == null) 0
      else if (x == null) (if (nf) -1 else 1)
      else if (y == null) (if (nf) 1 else -1)
      else if (k.desc) -cmpVal(x, y) else cmpVal(x, y)
    }.find(_ != 0).getOrElse(0)
  }

  def field(c: String): R => Any = r => r.getOrElse(c, null)
}

/** Outcome of one comparison: None when equal, else a short reason. */
object Compare {
  import Canon._

  /** Compares an ordered answer with the expected one. Rows must match as a
    * multiset and their sort keys must match in order. When the expected
    * answer was cut by a limit, rows tied with the last kept key may be any
    * of the tied candidates. */
  def ordered(got: Seq[R], want: Seq[R], keys: Seq[Key], limit: Option[Int]): Option[String] = {
    val ord = ordering(keys)
    val cut = limit.filter(_ < want.size)
    val kept = cut.map(want.take).getOrElse(want)
    if (got.size != kept.size) return Some(s"${got.size} rows, expected ${kept.size}")
    val keyLine = (r: R) => keys.map(k => norm(k.f(r))).mkString("|")
    if (got.map(keyLine) != kept.map(keyLine)) return Some("sort keys differ")
    cut match {
      case None =>
        val (g, w) = (got.map(line).sorted, kept.map(line).sorted)
        if (g != w) Some(s"rows differ: got ${g.diff(w).headOption}, want ${w.diff(g).headOption}")
        else None
      case Some(n) =>
        val last = want(n - 1)
        val strict = (r: R) => ord.compare(r, last) < 0
        val (g1, w1) = (got.filter(strict).map(line).sorted, kept.filter(strict).map(line).sorted)
        val tied = want.filter(r => ord.compare(r, last) == 0).map(line).toSet
        if (g1 != w1) Some("rows before the limit differ")
        else if (!got.filterNot(strict).map(line).forall(tied)) Some("a tied row is not a candidate")
        else None
    }
  }

  /** Multiset equality per copy: `got` rows are mapped back onto copy 0
    * and, for every copy in `copies`, must equal `want`. */
  def perCopy(got: Seq[R], want: Seq[R], copies: Int): Option[String] = {
    val mapped = got.map(KeyMap.toCopy0)
    if (mapped.exists(_.isEmpty)) return Some("a row mixes copies")
    val byCopy = mapped.flatten.groupBy(_._2)
    val w = want.map(line).sorted
    if (byCopy.keySet != (0 until copies).toSet)
      return Some(s"${byCopy.size} copies present, expected $copies")
    byCopy.toSeq.sortBy(_._1).iterator.map { case (k, rows) =>
      val g = rows.map(r => line(r._1)).sorted
      if (g != w) Some(s"copy $k: ${g.size} rows vs ${w.size}; got ${g.diff(w).headOption}, " +
        s"want ${w.diff(g).headOption}")
      else None
    }.find(_.nonEmpty).flatten
  }
}
