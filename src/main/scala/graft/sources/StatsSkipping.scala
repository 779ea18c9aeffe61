package graft.sources

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.ColumnStatRow

/**
 * Min/max file skipping over canonical column statistics: the one rule
 * deciding whether a file's [min, max] can hold a row that satisfies a
 * Catalyst predicate. [[ManifestFileIndex]] applies it to Spark's data
 * filters, and every scan builder's `range()` to `c >= lo AND c <= hi`.
 *
 * Each filter is rewritten over a per-file row of typed bounds and
 * evaluated interpreted, like the index's partition filter. Understood:
 * `=`, `<`, `<=`, `>`, `>=` between a column and a literal (literal on
 * either side), `IN` over literals, and `And`/`Or` of those. Any other
 * predicate, a column without stats, or a null or undecodable bound
 * reads as "may match", so the file is kept.
 */
object StatsSkipping {

  private val flipped = Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  /** The files whose stats cannot prove that no row satisfies every
    * filter. `stats` is not called when `filters` is empty. */
  def prune[F](files: Seq[F], filters: Seq[Expression])(stats: F => Seq[ColumnStatRow]): Seq[F] = {
    if (filters.isEmpty) return files
    // referenced column -> (i, type): row slot 2i holds its min, 2i + 1 its max
    val columns = mutable.LinkedHashMap[String, (Int, DataType)]()
    def compare(op: String, a: AttributeReference, v: Literal): Expression =
      if (a.dataType != v.dataType) Literal(true)
      else {
        val i = columns.getOrElseUpdate(a.name, (columns.size, a.dataType))._1
        val (mn, mx) = (BoundReference(2 * i, a.dataType, nullable = true),
          BoundReference(2 * i + 1, a.dataType, nullable = true))
        // a comparison on a null bound or literal is unknown: keep
        def maybe(e: Expression) = Coalesce(Seq(e, Literal(true)))
        op match {
          case "=" => And(maybe(LessThanOrEqual(mn, v)), maybe(GreaterThanOrEqual(mx, v)))
          case "<" => maybe(LessThan(mn, v))
          case "<=" => maybe(LessThanOrEqual(mn, v))
          case ">" => maybe(GreaterThan(mx, v))
          case ">=" => maybe(GreaterThanOrEqual(mx, v))
          case _ => Literal(true)
        }
      }
    def mayMatch(e: Expression): Expression = e match {
      case And(l, r) => And(mayMatch(l), mayMatch(r))
      case Or(l, r) => Or(mayMatch(l), mayMatch(r))
      case c: BinaryComparison => (c.left, c.right) match {
        case (a: AttributeReference, v: Literal) => compare(c.symbol, a, v)
        case (v: Literal, a: AttributeReference) => compare(flipped.getOrElse(c.symbol, ""), a, v)
        case _ => Literal(true)
      }
      case In(a: AttributeReference, list) if list.nonEmpty && list.forall(_.isInstanceOf[Literal]) =>
        list.map(v => compare("=", a, v.asInstanceOf[Literal])).reduce(Or)
      // the optimizer's form of a long IN list
      case InSet(a: AttributeReference, set) if set.nonEmpty =>
        set.toSeq.map(v => compare("=", a, Literal(v, a.dataType))).reduce(Or)
      case _ => Literal(true)
    }
    val predicate = Predicate.createInterpreted(filters.map(mayMatch).reduce(And))
    files.filter { f =>
      val byName = stats(f).map(s => s.column -> s).toMap
      val row = new Array[Any](2 * columns.size)
      columns.foreach { case (name, (i, dt)) =>
        byName.get(name).foreach { s =>
          row(2 * i) = s.minValue.map(decode(_, dt)).orNull
          row(2 * i + 1) = s.maxValue.map(decode(_, dt)).orNull
        }
      }
      predicate.eval(new GenericInternalRow(row))
    }
  }

  /** `column >= lo AND column <= hi` (either bound optional), each literal
    * cast to the column's type in UTC: the filter a scan builder's
    * `range()` records. A literal that does not cast is null, which keeps
    * every file. */
  def rangeFilter(column: String, dt: DataType, lo: Option[String], hi: Option[String]): Seq[Expression] = {
    val a = AttributeReference(column, dt)()
    def typed(v: String) = Literal.create(Cast(Literal(v), dt, Some("UTC"), EvalMode.TRY).eval(), dt)
    lo.map(l => GreaterThanOrEqual(a, typed(l))).toSeq ++ hi.map(h => LessThanOrEqual(a, typed(h)))
  }

  /** A canonical stat string as the Catalyst value of `dt` (dates are
    * epoch-days, timestamps epoch-micros, decimals plain strings); null
    * when it does not decode. */
  private def decode(s: String, dt: DataType): Any =
    try dt match {
      case ByteType => s.toByte
      case ShortType => s.toShort
      case IntegerType | DateType => s.toInt
      case LongType | TimestampType | TimestampNTZType => s.toLong
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      case _: DecimalType => Decimal(new java.math.BigDecimal(s))
      // binary-collated strings only: a collation orders differently from the stats
      case StringType => UTF8String.fromString(s)
      case BooleanType => s.toBoolean
      case _ => null
    } catch { case NonFatal(_) => null }
}
