package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass log-subset kernel for the receipt classifier/extractors.
  *
  * Every classifier predicate and every detail extractor starts from a
  * `filter(logs, l => ...)` over the receipt's log array, where the
  * per-log predicate is some subset of:
  *
  *   array_contains(l.topics, TOPIC)            (always)
  *   && l.address === ADDR                      (optional)
  *   && size(l.topics) === N                    (optional)
  *   && hexLong(strip0x(l.data)) ∈ [lo, hi]     (optional, the trust arm)
  *
  * Spark's higher-order `filter` is CodegenFallback — the lambda tree is
  * interpreted per log per row, measured at ~0.24s per filter per
  * evaluation at sf0.1 (OPTIMIZATION_r15.md §2; classify evaluates five
  * subsets).
  * This expression runs the same predicate imperatively inside
  * whole-stage codegen. Drop/keep semantics are bit-equal to the HOF
  * spelling (LogOpsSpec pins parity): a log whose predicate evaluates
  * to NULL under the HOF (null topics, null address, undecodable data)
  * is dropped there, and every such case is a plain "fails the check"
  * drop here.
  */
object LogFilterImpl {

  /** @param nTopics  required topics arity, or -1 for "don't check"
    * @param limitLo/limitHi  inclusive decoded-data range, active when
    *                         limitLo <= limitHi (use 0 > -1 to disable)
    */
  def eval(arr: ArrayData, topic: UTF8String, addr: UTF8String, nTopics: Int,
           limitLo: Long, limitHi: Long,
           addrIdx: Int, topicsIdx: Int, dataIdx: Int, nFields: Int): ArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val row = arr.getStruct(i, nFields)
        if (keep(row, topic, addr, nTopics, limitLo, limitHi,
          addrIdx, topicsIdx, dataIdx)) out.add(row)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private def keep(row: InternalRow, topic: UTF8String, addr: UTF8String,
                   nTopics: Int, limitLo: Long, limitHi: Long,
                   addrIdx: Int, topicsIdx: Int, dataIdx: Int): Boolean = {
    // array_contains(topics, topic): null topics → null pred → drop;
    // not-found (with or without null elements) → false/null → drop
    if (row.isNullAt(topicsIdx)) return false
    val topics = row.getArray(topicsIdx)
    var found = false
    var j = 0
    val tn = topics.numElements()
    while (!found && j < tn) {
      if (!topics.isNullAt(j) && topics.getUTF8String(j).equals(topic)) found = true
      j += 1
    }
    if (!found) return false
    if (nTopics >= 0 && tn != nTopics) return false
    if (addr != null) {
      if (row.isNullAt(addrIdx)) return false
      if (!row.getUTF8String(addrIdx).equals(addr)) return false
    }
    if (limitLo <= limitHi) {
      // hexLong(strip0x(data)) ∈ [lo, hi]; any decode failure → null → drop
      if (row.isNullAt(dataIdx)) return false
      val data = row.getUTF8String(dataIdx)
      val stripped =
        if (data.numBytes >= 2 && data.getByte(0) == '0' && data.getByte(1) == 'x')
          data.substring(2, data.numBytes) // byte-safe: "0x" is ASCII
        else data
      val v = HexWordImpl.hexLong(stripped)
      if (v == null) return false
      val l = v.longValue()
      if (l < limitLo || l > limitHi) return false
    }
    true
  }
}

case class FilterLogsExpr(child: Expression, topic: String,
                          addr: Option[String], nTopics: Int,
                          limitRange: Option[(Long, Long)])
    extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_filter_logs"

  private lazy val st: StructType = child.dataType
    .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val addrIdx = st.fieldIndex("address")
  private lazy val topicsIdx = st.fieldIndex("topics")
  private lazy val dataIdx = st.fieldIndex("data")
  private lazy val nFields = st.length
  @transient private lazy val topicU = UTF8String.fromString(topic)
  @transient private lazy val addrU = addr.map(UTF8String.fromString).orNull
  private def limitLo: Long = limitRange.map(_._1).getOrElse(0L)
  private def limitHi: Long = limitRange.map(_._2).getOrElse(-1L)

  override protected def nullSafeEval(input: Any): Any =
    LogFilterImpl.eval(input.asInstanceOf[ArrayData], topicU, addrU, nTopics,
      limitLo, limitHi, addrIdx, topicsIdx, dataIdx, nFields)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val topicRef = ctx.addReferenceObj("topic", topicU, classOf[UTF8String].getName)
    val addrRef =
      if (addrU == null) "(org.apache.spark.unsafe.types.UTF8String) null"
      else ctx.addReferenceObj("addr", addrU, classOf[UTF8String].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.LogFilterImpl.eval($c, $topicRef, $addrRef, $nTopics, " +
        s"${limitLo}L, ${limitHi}L, $addrIdx, $topicsIdx, $dataIdx, $nFields)")
  }
  override protected def withNewChildInternal(newChild: Expression): FilterLogsExpr =
    copy(child = newChild)
}

object LogOps {
  /** Logs whose topics contain `topic`, optionally also requiring the log
    * address, the topics arity, and a decodable data word in
    * `limitRange` — one codegen'd pass, bit-equal to the filter-HOF
    * spelling (see [[LogFilterImpl]]).
    */
  def filterLogs(logs: Column, topic: String, addr: Option[String] = None,
                 nTopics: Int = -1, limitRange: Option[(Long, Long)] = None): Column =
    GraftBridge.column(FilterLogsExpr(GraftBridge.expression(logs), topic,
      addr, nTopics, limitRange))
}
