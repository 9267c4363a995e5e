package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BindReferences.bindReference
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** As-of join — the operator Spark has no native primitive for — as a
  * category-(c) extension point end-to-end: a custom `LogicalPlan` node, a
  * `SparkStrategy` that plans it, and a physical `BinaryExecNode` that
  * executes it, registered through `SparkSessionExtensions` (and
  * `spark.experimental.extraStrategies` for live sessions).
  *
  * For each left row, attach the nearest right row with the same key:
  * backward (default) = latest right with right.time <= left.time;
  * forward = earliest right with right.time >= left.time. The naive
  * formulation is a non-equi range join (quadratic per key). This exec
  * shuffles each side ONCE on its own key (left rows never widen, right
  * rows never replicate), both sides sort per partition by (key, time) —
  * Catalyst inserts the exchanges/sorts from
  * requiredChildDistribution/Ordering, so AQE still plans them — and a
  * single forward merge pass per partition emits each left row joined to
  * its match. No row multiplication, no quadratic per-key work, skew
  * bounded by the hottest single key. The carried right values come
  * atomically from ONE right row (a NULL field of the match stays NULL).
  *
  * Semantics notes:
  *  - Right rows at exactly left.time match in both directions.
  *  - NULL keys group like groupBy keys: a null-key left row matches
  *    null-key right rows (natural-ordering comparison, not SQL `=`).
  *  - NULL times never match (the DuckDB/pandas convention): a null right
  *    time is skipped, a null left time emits the left row unmatched.
  *  - Right-time ties resolve to an engine-chosen row; pre-aggregate the
  *    right side to unique (key, time) if determinism matters (the gated
  *    queries do).
  */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTime: Attribute,
    rightTime: Attribute,
    forward: Boolean = false,
    toleranceUnits: Option[Long] = None) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  // The generic stats visitor multiplies child sizes for unknown binary
  // nodes (a cross-join-shaped guess). This join emits exactly one row per
  // left row, each at most left+right wide — the sum is the honest bound,
  // and it keeps planners above this node from refusing broadcasts.
  override def stats: org.apache.spark.sql.catalyst.plans.logical.Statistics =
    org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = left.stats.sizeInBytes + right.stats.sizeInBytes)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinPlan]] → [[AsofJoinExec]]; a no-op on every other node. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lt, rt, fwd, tol) =>
      AsofJoinExec(lk, rk, lt, rt, fwd, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    forward: Boolean,
    toleranceUnits: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // One hash shuffle per side on its own key. EnsureRequirements
  // co-partitions the two exchanges (same mechanism as sort-merge join),
  // and AQE's partition coalescing applies one spec to every shuffle of a
  // stage, so the sides stay aligned for zipPartitions.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  private def ordering(key: Expression, time: Expression): Seq[SortOrder] =
    Seq(SortOrder(key, Ascending), SortOrder(time, Ascending))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(ordering(leftKey, leftTime), ordering(rightKey, rightTime))

  // Left rows pass through in their sorted order and partitioning, so both
  // properties are preservable — a downstream per-key window or merge sees
  // them for free.
  override def outputOrdering: Seq[SortOrder] = ordering(leftKey, leftTime)
  override def outputPartitioning: Partitioning = left.outputPartitioning

  /** Event-time as comparable micros/units; TimestampType evals to Long,
    * DateType to Int — anything numeric-backed works identically on both
    * sides (the API layer validates the two types match).
    */
  private def toLong(v: Any): Long = v.asInstanceOf[Number].longValue

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val outAttrs = output
    val lKey = leftKey
    val rKey = rightKey
    val lTime = leftTime
    val rTime = rightTime
    val fwd = forward
    val tol = toleranceUnits
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lkGen = UnsafeProjection.create(Seq(lKey), leftOut)
      val rkGen = UnsafeProjection.create(Seq(rKey), rightOut)
      val ltBound = bindReference(lTime, leftOut)
      val rtBound = bindReference(rTime, rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lKey.dataType))
      // bind the right side as NULLABLE: the projection takes each field's
      // nullability from the INPUT schema it binds against, and an
      // unmatched left row feeds an all-null row through right-side slots —
      // binding rightOut verbatim would make a non-nullable carried column
      // emit its type's default (0/false/epoch) instead of NULL
      val resultProj = UnsafeProjection.create(outAttrs,
        leftOut ++ rightOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rightOut.size)
      val joined = new JoinedRow
      val rBuf = rIt.buffered

      new Iterator[InternalRow] {
        // BACKWARD: the latest right row (copied — Spark iterators reuse
        // buffers) whose (key, time) has been passed by the left cursor.
        // FORWARD: unused; the match is the right head itself.
        private var lastRight: InternalRow = _
        private var lastRightKey: UnsafeRow = _

        override def hasNext: Boolean = lIt.hasNext

        /** Advance right past rows that can match neither this left row
          * nor any later one (left times only grow), then return this left
          * row's match, or null. Both directions discard keys already
          * passed; backward additionally consumes-and-remembers same-key
          * rows at/before the left time, forward discards same-key rows
          * strictly before it (they precede every future left time too)
          * and matches the un-consumed head.
          */
        private def matchFor(lk: UnsafeRow, lt: Long): InternalRow = {
          var advance = true
          while (advance && rBuf.hasNext) {
            val rrow = rBuf.head
            val rtv = rtBound.eval(rrow)
            if (rtv == null) { rBuf.next() } // null time never matches
            else {
              val rk = rkGen(rrow) // reused buffer; valid until next rkGen call
              val cmp = keyOrd.compare(rk, lk)
              if (cmp < 0) { rBuf.next() } // key fully passed; discard
              else if (cmp > 0) advance = false // right is ahead; stop
              else if (fwd) {
                if (toLong(rtv) < lt) rBuf.next() else advance = false
              } else {
                if (toLong(rtv) <= lt) {
                  lastRight = rrow.copy()
                  lastRightKey = rk.copy()
                  rBuf.next()
                } else advance = false
              }
            }
          }
          if (fwd) {
            if (rBuf.hasNext && keyOrd.compare(rkGen(rBuf.head), lk) == 0) {
              val rt = toLong(rtBound.eval(rBuf.head)) // non-null: loop stopped here
              if (tol.forall(rt - lt <= _)) rBuf.head else null
            } else null
          } else {
            if (lastRight != null && keyOrd.compare(lastRightKey, lk) == 0 &&
                tol.forall(lt - toLong(rtBound.eval(lastRight)) <= _))
              lastRight
            else null
          }
        }

        override def next(): InternalRow = {
          val lrow = lIt.next()
          val ltv = ltBound.eval(lrow)
          val matched =
            if (ltv == null) null else matchFor(lkGen(lrow), toLong(ltv))
          resultProj(joined(lrow, if (matched != null) matched else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API over the as-of operator. */
object AsofJoinNative {

  private val supportedTime: DataType => Boolean = {
    case TimestampType | TimestampNTZType | DateType |
         LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** Idempotently activate the strategy on a live session (the runtime
    * analog of `spark.sql.extensions=graft.functions.GraftExtensions`).
    */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy

  /** left asof-join right: for each left row, the nearest right row with
    * the same key — backward (default) = latest right time <= left time,
    * forward = earliest right time >= left time. Carried right columns are
    * renamed per `rightCols`; the right side is re-projected under fresh
    * aliases, so self-joins cannot collide attribute ids.
    * `toleranceUnits` bounds |left − right| time in the column's INTERNAL
    * units (micros for timestamps, days for dates, the value itself for
    * integers); a match outside it comes back null.
    */
  def asof(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTime: String,
      rightTime: String,
      rightCols: Map[String, String],
      direction: String = "backward",
      toleranceUnits: Option[Long] = None): DataFrame = {
    require(Set("backward", "forward")(direction),
      s"direction must be backward|forward, got '$direction'")
    require(toleranceUnits.forall(_ >= 0), "tolerance must be non-negative")
    val spark = left.sparkSession
    install(spark)
    val lType = left.schema(leftTime).dataType
    val rType = right.schema(rightTime).dataType
    require(lType == rType && supportedTime(lType),
      s"as-of time columns must share a numeric-backed type; got $lType / $rType")
    require(left.schema(key).dataType == right.schema(key).dataType,
      "as-of key columns must share a type")
    // Spark's NormalizeFloatingNumbers rule only rewrites the join/group
    // nodes it knows about; a float key through THIS node could hash -0.0
    // and 0.0 (or NaN bit patterns) to different partitions. Float as-of
    // keys are meaningless anyway — reject instead of corrupting.
    require(!Seq(FloatType, DoubleType).contains(left.schema(key).dataType),
      "float/double as-of keys are not supported (hash normalization)")
    val reserved = Set("__asof_rk", "__asof_rt")
    require(!rightCols.values.exists(reserved), s"carried names $reserved are reserved")
    require(!left.columns.exists(reserved), s"left columns $reserved are reserved")
    val clash = left.columns.toSet.intersect(rightCols.values.toSet)
    require(clash.isEmpty, s"carried names collide with left columns: $clash")
    val dupTargets = rightCols.values.toSeq.diff(rightCols.values.toSeq.distinct)
    require(dupTargets.isEmpty, s"duplicate carried names: ${dupTargets.distinct}")
    val carry = rightCols.toSeq
    // fresh aliases → fresh exprIds (self-join safe) + no name clashes
    val rProj = right.select(
      Seq(col(key).as("__asof_rk"), col(rightTime).as("__asof_rt")) ++
        carry.map { case (from, to) => col(from).as(to) }: _*)
    val lp = left.queryExecution.analyzed
    val rp = rProj.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.filter(_.name == name) match {
        case Seq(a) => a
        case Seq() => throw new IllegalArgumentException(s"column '$name' not found")
        case many => throw new IllegalArgumentException(
          s"column '$name' is ambiguous (${many.size} matches) — rename before the as-of")
      }
    val node = AsofJoinPlan(lp, rp,
      attr(lp, key), attr(rp, "__asof_rk"), attr(lp, leftTime), attr(rp, "__asof_rt"),
      forward = direction == "forward", toleranceUnits = toleranceUnits)
    PlanBridge.ofRows(spark, node)
      .drop("__asof_rk", "__asof_rt")
  }
}
