package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Whole-operator extension tier — SURVEY.md §2.12 preference (c): a custom
  * LogicalPlan + SparkStrategy + SparkPlan implementing a LEFT AS-OF JOIN
  * as a first-class physical operator.
  *
  * The composed formulation (operators.Events.asofClicks: union + window)
  * is preference (a) and stays the catalog entry; this operator is the
  * (c)-tier path you reach for when the composition's costs bite — the
  * union materializes BOTH sides through one window and carries null-padded
  * payload columns through the shuffle, while this exec shuffles each side
  * once on its own key, sorts within partitions, and streams a two-pointer
  * merge with O(1) state per partition. AsOfJoinSpec proves the two
  * implementations (and therefore DuckDB's native ASOF JOIN, which oracles
  * the composed one) agree row-for-row.
  *
  * Type scope: the merge runs on BIGINT keys and event-times; asofJoin
  * widens integral/timestamp/date inputs to BIGINT via order-preserving
  * cast insertion and rejects anything else with IllegalArgumentException
  * at call time (round-2 verdict widened v1's BIGINT-only contract). The
  * null contract is
  * enforced per row in doExecute (a clear error instead of Scala's silent
  * null→0L unboxing, which would quietly join null keys as key 0). Left
  * as-of semantics, both directions: BACKWARD (default) — for each left
  * row, the right row with the greatest ts ≤ left ts for the same key;
  * FORWARD (`forward = true`) — the smallest ts ≥ left ts. Nulls when
  * none; both are single-pass O(1)-state merges over the same co-clustered
  * (key, ts) sort.
  *
  * Scale shape: requiredChildDistribution co-clusters both children on the
  * join key (EnsureRequirements inserts the exchanges), requiredChildOrdering
  * demands (key, ts) sort per partition — exactly a sort-merge join's cost
  * profile, with the merge specialized to as-of semantics.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, leftTs: Expression,
    rightKey: Expression, rightTs: Expression,
    forward: Boolean,
    tolerance: Option[Long]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, leftTs: Expression,
    rightKey: Expression, rightTs: Expression,
    forward: Boolean,
    tolerance: Option[Long]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTs  = BindReferences.bindReference(leftTs, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTs  = BindReferences.bindReference(rightTs, right.output)
    val rightWidth = right.output.size
    val outAttrs = output
    // tolerance in the NORMALIZED ts unit (micros/days/raw); Long.MaxValue
    // sentinel keeps the hot loop branch-simple (t - ts can't overflow:
    // both come from the same normalized domain)
    val tol = tolerance.getOrElse(Long.MaxValue)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      val project = UnsafeProjection.create(outAttrs, outAttrs)
      var rLookahead: InternalRow = null   // fetched but not yet consumed

      if (forward) {
        // FORWARD merge: for each left row, the first right row with
        // rTs ≥ lTs for the same key. Left ts is ascending per key, so the
        // right pointer only ever advances — rows with rk < k, or same key
        // but rTs < t, can never match a later left row; a matched
        // lookahead is NOT consumed (the same right row may also be the
        // answer for the next left row). O(1) state, single pass.
        lIter.map { lRow =>
          val k = evalLong(lKey, lRow, "left key")
          val t = evalLong(lTs, lRow, "left ts")
          var advance = true
          while (advance && (rLookahead != null || rIter.hasNext)) {
            if (rLookahead == null) rLookahead = rIter.next().copy()
            val rk = evalLong(rKey, rLookahead, "right key")
            if (rk < k || (rk == k && evalLong(rTs, rLookahead, "right ts") < t))
              rLookahead = null // permanently behind this (and any later) left row
            else advance = false
          }
          val matched = rLookahead != null &&
            evalLong(rKey, rLookahead, "right key") == k &&
            evalLong(rTs, rLookahead, "right ts") - t <= tol
          project(joined(lRow, if (matched) rLookahead else nullRight))
        }
      } else {
        var lastMatch: InternalRow = null  // greatest rTs ≤ lTs for lastMatchKey
        var lastMatchKey = 0L
        lIter.map { lRow =>
          val k = evalLong(lKey, lRow, "left key")
          val t = evalLong(lTs, lRow, "left ts")
          if (lastMatch != null && lastMatchKey != k) lastMatch = null
          var advance = true
          while (advance && (rLookahead != null || rIter.hasNext)) {
            if (rLookahead == null) rLookahead = rIter.next().copy() // rows are reused buffers
            val rk = evalLong(rKey, rLookahead, "right key")
            if (rk < k) {
              rLookahead = null // earlier key, no longer relevant
            } else if (rk == k && evalLong(rTs, rLookahead, "right ts") <= t) {
              lastMatch = rLookahead; lastMatchKey = rk
              rLookahead = null
            } else {
              advance = false // right pointer is ahead of this left row
            }
          }
          // tolerance: the retained match is the greatest rTs <= t; it
          // only drifts FURTHER from later (larger) left ts values, so an
          // out-of-tolerance match stays retained (a newer in-window right
          // row replaces it via the merge above) but emits null here
          val r = if (lastMatch != null &&
              t - evalLong(rTs, lastMatch, "right ts") <= tol) lastMatch
            else nullRight
          project(joined(lRow, r))
        }
      }
    }
  }

  /** Null-safe long eval: a null key/ts would silently unbox to 0L and
    * join as key/ts 0 — fail loudly instead (v1 contract: non-null). */
  private def evalLong(e: Expression, row: InternalRow, what: String): Long = {
    val v = e.eval(row)
    if (v == null) throw new IllegalArgumentException(
      s"as-of join: null $what — v1 requires non-null BIGINT keys and timestamps")
    v.asInstanceOf[Long]
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, lts, rk, rts, fwd, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lts, rk, rts, fwd, tol) :: Nil
    case _ => Nil
  }
}

object AsOfJoinPlan {

  /** Build `left LEFT AS-OF JOIN right ON key, ts` as a DataFrame; the
    * session plans it through the strategy GraftExtensions injects. Key
    * and ts columns must be non-null and BIGINT-normalizable: BIGINT
    * passes through; narrower integrals are widened; TIMESTAMP becomes epoch micros and DATE epoch days (order-
    * preserving, so as-of semantics are unchanged). Output columns keep
    * their original types — normalization touches only the internal join
    * expressions. Mixed ts types across sides are the caller's contract
    * (e.g. left TIMESTAMP vs right BIGINT micros compares fine; right
    * BIGINT *seconds* would not). */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: Column, leftTs: Column,
               rightKey: Column, rightTs: Column,
               forward: Boolean = false,
               tolerance: Option[Long] = None): DataFrame = {
    // tolerance is in the NORMALIZED ts unit (pandas merge_asof contract):
    // micros for timestamp inputs, days for dates, raw for BIGINT. A match
    // farther than `tolerance` from the left ts emits the null row instead.
    tolerance.foreach(t => require(t >= 0, s"as-of tolerance must be >= 0, got $t"))
    val plan = AsOfJoin(
      ColumnBridge.logicalPlan(left), ColumnBridge.logicalPlan(right),
      toBigint(left, leftKey, "left key"),
      toBigint(left, leftTs, "left ts"),
      toBigint(right, rightKey, "right key"),
      toBigint(right, rightTs, "right ts"),
      forward, tolerance)
    val out = ColumnBridge.ofRows(left.sparkSession, plan)
    // type contract, checked once the analyzer has resolved the expressions
    out.queryExecution.analyzed.collectFirst { case a: AsOfJoin => a }.foreach { a =>
      Seq("left key" -> a.leftKey, "left ts" -> a.leftTs,
          "right key" -> a.rightKey, "right ts" -> a.rightTs).foreach { case (what, e) =>
        require(e.dataType == org.apache.spark.sql.types.LongType,
          s"as-of join $what must be BIGINT, got ${e.dataType.simpleString}")
      }
    }
    out
  }

  /** Cast-insertion behind the widened type contract (round-2 verdict
    * item #7): resolve the column's type against its own DataFrame, then
    * rewrite to an order-preserving BIGINT expression. Rejects anything
    * else (strings, decimals, doubles) at call time with a clear error —
    * the exec's long-specialized merge never sees a non-BIGINT input.
    *
    * Built as raw Catalyst expressions, NOT via the Column API: Spark 4's
    * Column ops wrap a lazily-converted ColumnNodeExpression that reports
    * resolved=true / dataType=NullType, so inside a custom logical node the
    * analyzer would never rewrite it and the exec would see `void`. */
  private def toBigint(df: DataFrame, c: Column, what: String): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, UnixDate, UnixMicros}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.types._
    // run the column through the analyzer against its own DataFrame: the
    // select's analyzed projection holds the fully-resolved expression
    // (attribute ids shared with df's analyzed plan, which AsOfJoin uses)
    val e = ColumnBridge.logicalPlan(df.select(c)) match {
      case Project(Seq(a: Alias), _) => a.child
      case Project(Seq(expr), _)     => expr
      case _                         => ColumnBridge.expression(c)
    }
    e.dataType match {
      case LongType                           => e
      case ByteType | ShortType | IntegerType => Cast(e, LongType)
      case TimestampType                      => UnixMicros(e)
      case TimestampNTZType                   => UnixMicros(Cast(e, TimestampType))
      case DateType                           => Cast(UnixDate(e), LongType)
      case other => throw new IllegalArgumentException(
        s"as-of join $what must be BIGINT-normalizable (integral, timestamp, or date), " +
          s"got ${other.simpleString}")
    }
  }
}
