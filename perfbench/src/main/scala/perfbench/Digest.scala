package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a frame's rows, collected by `observe` on the
  * same execution that feeds the sink, so checking a result never re-runs
  * the query. Hashing every row costs time, so timed passes observe the row
  * count alone (`full = false`) and only the untimed warm-up pass computes
  * the digest.
  *
  * Columns are hashed in name order. Floating-point values are rounded to
  * nine significant digits first: aggregates sum in task-arrival order, and
  * the last bits of such sums are not stable from run to run. */
object Digest {
  final case class Value(rows: Long, digest: String)

  private def rounded(c: Column): Column =
    format_string("%.9g", c.cast(DoubleType) + lit(0.0))

  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => rounded(c)
    case ArrayType(DoubleType | FloatType, _) => transform(c, rounded(_))
    case _: ArrayType | _: MapType | _: StructType => to_json(struct(c))
    case BinaryType => base64(c)
    case _ => c
  }

  /** `df` with its row count and, when `full`, its digest attached under
    * `ob`; read them with [[of]] after an action on the returned frame. */
  def observed(df: DataFrame, ob: Observation, full: Boolean = true): DataFrame =
    if (!full) df.observe(ob, count(lit(1)).as("n"))
    else {
      val cols = df.schema.fields.sortBy(_.name).map(f => normalized(df.col(f.name), f.dataType))
      val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
      df.observe(ob, count(lit(1)).as("n"), bit_xor(h).as("x"),
        sum(h.bitwiseAND(lit(0xffffffffL))).as("s"))
    }

  /** The observed values; the digest is empty when only rows were counted. */
  def of(ob: Observation): Value = {
    val m = ob.get
    def long(k: String): Long = Option(m(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    Value(long("n"), if (m.contains("x")) f"${long("x")}%016x${long("s")}%016x" else "")
  }
}
