package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for per-document term frequencies:
  * `array<string>` tokens → `array<struct<term string, tf bigint>>`,
  * entries sorted by term (binary UTF8 order — deterministic output for
  * spec equality; consumers explode, so intra-array order never reaches a
  * result).
  *
  * Purpose (round 13): the SHUFFLE-FREE form of a term-frequency table —
  * per-document counting inside the scan replaces x12's corpus-wide
  * `explode` → `groupBy(doc_id, term)` exchange. Measured honestly at the
  * 100x replica (NOTES.md Round 14, u2/x12 item): LOCALLY an anti-lever — the query's dominant
  * cost is the 28M-row InMemoryRelation build (~12 s), the local NVMe
  * shuffle is nearly free, and this expression's row boxing
  * (TreeMap + GenericInternalRow output) costs real CPU, so the
  * registered x12 keeps the groupBy shape. The regime this wins is a
  * real cluster whose 28M-row shuffle crosses a network (the same
  * argument class as the d4 band automaton's payload term) — priced, not
  * measurable on one box. The composed alternatives (`aggregate` to a
  * map, `transform`+`filter` per distinct token) are interpreted HOFs,
  * the megamorphic trap of NOTES sharp edge #17, and the transform form
  * is O(tokens²).
  *
  * Contract: null array → null (split() of a null text). Null ELEMENTS
  * cannot occur from split(); they are skipped defensively. UTF8String
  * keys are copied into the output (the input array's backing buffer is
  * only valid for the current row). */
case class TermCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TermCountsUtil.schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_term_counts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.simpleString}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else TermCountsUtil.compute(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        ${ev.isNull} ? null : graft.functions.TermCountsUtil.compute(${c.value});""")
  }

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}

object TermCountsUtil {
  val schema: ArrayType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    // value type must be the BOXED java.lang.Long: with scala.Long the
    // compiler unboxes get()'s null to 0, `prev == null` is always false,
    // and the t.copy() branch goes dead — leaving output keys aliased to
    // the row's transient backing buffer (the exact hazard the contract
    // above names)
    val counts = new java.util.TreeMap[UTF8String, java.lang.Long]() // term-sorted
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        val prev = counts.get(t)
        if (prev == null) counts.put(t.copy(), java.lang.Long.valueOf(1L))
        else counts.put(t, java.lang.Long.valueOf(prev.longValue + 1L)) // key already a copy
      }
      i += 1
    }
    val out = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue.longValue))
      j += 1
    }
    new GenericArrayData(out)
  }
}
