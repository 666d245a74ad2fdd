package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, JoinedRow, SortOrder, UnsafeProjection, Ascending, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graft.shims

/** AS-OF JOIN — a whole-operator extension (logical node → planner
  * strategy → physical merge-join), the operator preference-order
  * case (c): Spark has no built-in as-of join, and composing it from
  * window functions costs an extra shuffle + full materialization of
  * the union. Event-stream use: attach "the most recent dimension/fact
  * state at event time" (e.g. each engagement event joined to the
  * customer's latest order at that moment).
  *
  * Semantics (LEFT as-of): every left row is kept, matched with the
  * right row of equal key having the greatest `rightTime <=
  * leftTime`; no such row → right columns null. Equal-time right
  * duplicates: latest in (key, time, tiebreak-free) sort order wins —
  * callers wanting full determinism dedupe the right side per
  * (key, time) first.
  *
  * Physical execution co-partitions both sides on the key
  * (ClusteredDistribution) and sorts them by (key, time); each
  * partition pair is then merged in one pass with O(1) state — the
  * same shuffle/sort cost as a SortMergeJoin, with no buffering of
  * equal-key groups. This is the plan shape that survives 100 TB:
  * one shuffle each side, streaming merge, no per-key materialization.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val nullRight = new GenericInternalRow(right.output.length)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKey = UnsafeProjection.create(Seq(leftKey), left.output)
      val lTime = UnsafeProjection.create(Seq(leftTime), left.output)
      val rKey = UnsafeProjection.create(Seq(rightKey), right.output)
      val rTime = UnsafeProjection.create(Seq(rightTime), right.output)
      // bind against the NULLABLE right schema (output), not the raw
      // child schema — BoundReference takes nullability from the input
      // side, and a non-nullable binding reads the all-null pad row as 0s
      val out = UnsafeProjection.create(output, output)
      val joined = new JoinedRow

      // one-pass merge: rows sorted by (key, time) on both sides;
      // candidate = last right row with key == leftKey, time <= leftTime
      var rHead: InternalRow = if (rIter.hasNext) rIter.next() else null
      var candidate: InternalRow = null
      var candKeyRow: InternalRow = null

      lIter.map { lRow =>
        val lk = lKey(lRow).copy()
        val lt = lTime(lRow).copy()
        if (lk.isNullAt(0) || lt.isNullAt(0)) {
          // null left key/time never matches (SQL join semantics) —
          // don't touch the merge state: nulls sort first, so they
          // precede all non-null keys in this partition's order
          out(joined(lRow, nullRight))
        } else {
          // drop candidate if key moved past it
          if (candKeyRow != null && candKeyRow != lk && !candKeyRow.equals(lk)) {
            candidate = null; candKeyRow = null
          }
          var advancing = true
          while (advancing && rHead != null) {
            val rk = rKey(rHead)
            if (rk.isNullAt(0) || rTime(rHead).isNullAt(0)) {
              // null right key/time can match nothing — skip
              rHead = if (rIter.hasNext) rIter.next() else null
            } else {
              val cmpKey = ordCompare(rk, lk)
              if (cmpKey < 0) {
                rHead = if (rIter.hasNext) rIter.next() else null
              } else if (cmpKey == 0 && ordCompare(rTime(rHead), lt) <= 0) {
                candidate = rHead.copy()
                candKeyRow = lk
                rHead = if (rIter.hasNext) rIter.next() else null
              } else {
                advancing = false
              }
            }
          }
          val r = if (candidate != null && candKeyRow != null && candKeyRow.equals(lk))
            candidate else nullRight
          out(joined(lRow, r))
        }
      }
    }
  }

  /** Compare two single-field unsafe rows via their 64-bit slot —
    * valid ONLY for long/timestamp-backed keys, which
    * [[AsOf.validateTypes]] enforces at analysis time (a string key
    * would compare (offset,size) words; an int would zero-extend). */
  private def ordCompare(a: InternalRow, b: InternalRow): Int = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow].getLong(0)
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow].getLong(0)
    java.lang.Long.compare(x, y)
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: logical AsOfJoin → AsOfJoinExec. [[AsOf.join]]
  * installs it on the session it is called with
  * ([[AsOf.ensureRegistered]]), so no session extension is needed. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j @ AsOfJoin(l, r, lk, rk, lt, rt) =>
      AsOf.validateTypes(j)  // belt-and-braces: AsOf.join checks eagerly
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

/** User-facing API. */
object AsOf {
  /** `left` AS-OF LEFT JOIN `right` on key equality and the greatest
    * rightTime <= leftTime. Key/time columns must be 64-bit-backed
    * (long / timestamp). */
  def join(leftDf: DataFrame, rightDf: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column): DataFrame = {
    val spark = leftDf.sparkSession
    ensureRegistered(spark)
    val plan = AsOfJoin(
      shims.logicalPlan(leftDf), shims.logicalPlan(rightDf),
      shims.expression(leftKey), shims.expression(rightKey),
      shims.expression(leftTime), shims.expression(rightTime))
    val df = shims.ofRows(spark, plan)
    // fail fast at analysis time, not with silently-wrong merge results:
    // the exec's single-slot comparator is only valid for 64-bit types
    df.queryExecution.analyzed.foreach {
      case j: AsOfJoin => validateTypes(j)
      case _ =>
    }
    df
  }

  /** The merge exec compares key/time via the raw 64-bit UnsafeRow slot,
    * so only long/timestamp-backed expressions are sound. Anything else
    * (string, int, date, decimal…) would produce wrong answers, not
    * errors — reject it during analysis. */
  def validateTypes(j: AsOfJoin): Unit = {
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    def check(role: String, e: Expression): Unit = {
      if (e.resolved && !Seq(LongType, TimestampType, TimestampNTZType)
          .contains(e.dataType)) {
        throw new IllegalArgumentException(
          s"as-of join $role must be 64-bit-backed (LONG or TIMESTAMP), " +
            s"got ${e.dataType.sql}; cast the column explicitly " +
            "(e.g. unix_millis) to choose the ordering semantics")
      }
    }
    check("left key", j.leftKey); check("right key", j.rightKey)
    check("left time", j.leftTime); check("right time", j.rightTime)
    // the two sides must carry the SAME type: LONG-vs-TIMESTAMP (or
    // TIMESTAMP-vs-TIMESTAMP_NTZ) both pass the per-side check but
    // compare raw 64-bit slots in different units/epochs — silently
    // wrong matches, the exact class this validator exists to reject
    def sameType(role: String, l: Expression, r: Expression): Unit = {
      if (l.resolved && r.resolved && l.dataType != r.dataType) {
        throw new IllegalArgumentException(
          s"as-of join $role types must match on both sides, got " +
            s"${l.dataType.sql} vs ${r.dataType.sql}; cast one side " +
            "explicitly so the ordering semantics are chosen, not implied")
      }
    }
    sameType("key", j.leftKey, j.rightKey)
    sameType("time", j.leftTime, j.rightTime)
  }

  /** Idempotently appends [[AsOfJoinStrategy]] to the session's
    * extra planner strategies. */
  def ensureRegistered(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
  }
}
