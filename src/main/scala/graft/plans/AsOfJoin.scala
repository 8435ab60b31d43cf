package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.DoubleType

/** Native AS-OF JOIN — the one operator in this engine whose semantics no
  * built-in composition plans optimally. Tier (c) of the custom-operator
  * preference order: a LogicalPlan node + SparkStrategy + SparkPlan,
  * planned by [[AsOfJoin.Strategy]], which [[graft.functions.GraftExtensions]]
  * injects into every [[graft.GraftSession]].
  *
  * Semantics (identical to the composed union+window formulation,
  * operators.StarQueries.q31, and therefore to its DuckDB oracle): each
  * left row (key, time) receives the `value` of the right row with the
  * same key and the greatest (time, seq) <= (left time, +inf); null if no
  * such row. Ties on right time resolve to the highest seq — matching the
  * window formulation's ORDER BY ts, is_order DESC, src_id.
  *
  * Why a custom physical operator beats the composition at scale: the
  * union+window shape shuffles BOTH streams into one sorted timeline and
  * materializes a window frame over it; this operator instead requires
  * only co-partitioning on the key plus a per-side local sort
  * (EnsureRequirements inserts the exchanges/sorts), then streams a
  * per-partition two-pointer merge in O(left + right) with O(1) state —
  * no window buffer, no unioned row inflation, and each side shuffles in
  * its own (narrower) schema. The right side carries only
  * (key, time, seq, value).
  *
  * Measured at sf0.1 (local[32]): ~2.9s cold vs 7.2s for the composed
  * plan (far less codegen), ~1.1s vs 0.8s warm — at this scale the window
  * buffer fits memory so the composed plan holds its own; the native
  * operator's win is structural (shuffle bytes and per-partition state),
  * which is what matters when the timeline no longer fits an executor.
  */
object AsOfJoin {

  /** Logical node: output = left.output :+ asof value column. */
  case class AsOfJoinNode(
      left: LogicalPlan,
      right: LogicalPlan,
      leftKey: Attribute,
      leftTime: Attribute,
      rightKey: Attribute,
      rightTime: Attribute,
      rightSeq: Attribute,
      rightValue: Attribute,
      asofOut: AttributeReference,
      direction: String)
    extends BinaryNode {
    override def output: Seq[Attribute] = left.output :+ asofOut
    // asofOut is synthesized by this operator, not consumed from children
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(asofOut)
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
      copy(left = newLeft, right = newRight)
  }

  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AsOfJoinNode(l, r, lk, lt, rk, rt, rs, rv, out, dir) =>
        AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, rs, rv, out, dir) :: Nil
      case _ => Nil
    }
  }

  /** Public API: left rows gain `asofColName` = latest right `valueCol`
    * at-or-before the left time within the same key. Key and seq columns
    * must be bigint; time columns timestamp (micros); value double.
    */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      leftKeyCol: String, leftTimeCol: String,
      rightKeyCol: String, rightTimeCol: String,
      rightSeqCol: String, rightValueCol: String,
      asofColName: String,
      direction: String = "backward"): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"unknown as-of direction $direction")
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: LogicalPlan, name: String, accepted: Seq[org.apache.spark.sql.types.DataType],
        role: String): Attribute = {
      val a = p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found in ${p.output.map(_.name)}"))
      // the merge reads raw getLong/getDouble — a wrong-typed column would
      // produce silently wrong joins, so types are enforced here
      require(accepted.contains(a.dataType),
        s"$role column $name must be one of ${accepted.mkString("/")}, got ${a.dataType}")
      a
    }
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val keyT = Seq(LongType)
    val timeT = Seq(TimestampType, TimestampNTZType, LongType)
    val node = AsOfJoinNode(
      lPlan, rPlan,
      attr(lPlan, leftKeyCol, keyT, "key"), attr(lPlan, leftTimeCol, timeT, "time"),
      attr(rPlan, rightKeyCol, keyT, "key"), attr(rPlan, rightTimeCol, timeT, "time"),
      attr(rPlan, rightSeqCol, keyT, "seq"), attr(rPlan, rightValueCol, Seq(DoubleType), "value"),
      AttributeReference(asofColName, DoubleType, nullable = true)(),
      direction)
    GraftSqlShim.ofRows(spark, node)
  }
}

/** Physical as-of join: co-partitioned on the key (ClusteredDistribution,
  * like SortMergeJoin), each side locally sorted by (key, time[, seq]);
  * doExecute streams both iterators through a two-pointer merge carrying
  * (current key, last value at-or-before) — O(1) state per partition.
  */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute,
    leftTime: Attribute,
    rightKey: Attribute,
    rightTime: Attribute,
    rightSeq: Attribute,
    rightValue: Attribute,
    asofOut: AttributeReference,
    direction: String)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ asofOut

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(asofOut)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightSeq, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    // A dedicated RDD subclass instead of RDD.zipPartitions: the public
    // zipPartitions runs the ClosureCleaner over the merge lambda, which
    // breaks under layered classloaders (sbt test / artifact isolation)
    // when the capturing class's bytes aren't visible to the cleaner. The
    // subclass hands no closure to the RDD API at all.
    new AsOfMergeRDD(
      left.execute(), right.execute(),
      left.output.indexWhere(_.exprId == leftKey.exprId),
      left.output.indexWhere(_.exprId == leftTime.exprId),
      right.output.indexWhere(_.exprId == rightKey.exprId),
      right.output.indexWhere(_.exprId == rightTime.exprId),
      right.output.indexWhere(_.exprId == rightValue.exprId),
      output, direction)
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

private[plans] class AsOfZipPartition(
    override val index: Int,
    val leftPart: org.apache.spark.Partition,
    val rightPart: org.apache.spark.Partition)
  extends org.apache.spark.Partition

/** Per-partition streaming as-of merge over two co-partitioned, locally
  * sorted children. Both sides sorted by (key, time[, seq]); each left row
  * takes the value of the last right row consumed with the same key —
  * which, by sort order, is the greatest (time, seq) at-or-before it.
  */
private[plans] class AsOfMergeRDD(
    var leftRdd: RDD[InternalRow],
    var rightRdd: RDD[InternalRow],
    lkIdx: Int, ltIdx: Int, rkIdx: Int, rtIdx: Int, rvIdx: Int,
    out: Seq[Attribute],
    direction: String)
  extends RDD[InternalRow](leftRdd.context, Seq(
    new org.apache.spark.OneToOneDependency(leftRdd),
    new org.apache.spark.OneToOneDependency(rightRdd))) {

  require(leftRdd.partitions.length == rightRdd.partitions.length,
    "as-of join children must be co-partitioned")

  override def getPartitions: Array[org.apache.spark.Partition] =
    Array.tabulate(leftRdd.partitions.length) { i =>
      new AsOfZipPartition(i, leftRdd.partitions(i), rightRdd.partitions(i))
    }

  override def compute(
      split: org.apache.spark.Partition,
      context: org.apache.spark.TaskContext): Iterator[InternalRow] = {
    val p = split.asInstanceOf[AsOfZipPartition]
    val lIter = leftRdd.iterator(p.leftPart, context)
    val rBuf = rightRdd.iterator(p.rightPart, context).buffered
    val proj = UnsafeProjection.create(out, out)
    val extra = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
    // backward carry: last consumed right row's (key, time, value).
    // forward peeks rBuf.head instead of consuming; nearest uses both.
    val fwd = direction == "forward"
    val near = direction == "nearest"
    var haveVal = false
    var valKey = 0L
    var lastVal = 0.0
    var lastTime = 0L
    lIter.map { lRow =>
      if (lRow.isNullAt(lkIdx) || lRow.isNullAt(ltIdx)) {
        extra.setNullAt(0)
      } else {
        val lk = lRow.getLong(lkIdx)
        val lt = lRow.getLong(ltIdx)
        var advance = true
        while (advance && rBuf.hasNext) {
          val r = rBuf.head
          if (r.isNullAt(rkIdx) || r.isNullAt(rtIdx)) { rBuf.next() }
          else {
            val rk = r.getLong(rkIdx)
            // forward keeps at-or-after rows (rt == lt) unconsumed so the
            // head IS the first at-or-after candidate; backward/nearest
            // consume them into the carry (at-or-before wins distance 0)
            val consume =
              rk < lk || (rk == lk &&
                (if (fwd) r.getLong(rtIdx) < lt else r.getLong(rtIdx) <= lt))
            if (consume) {
              if (rk == lk && !r.isNullAt(rvIdx)) {
                haveVal = true; valKey = rk
                lastVal = r.getDouble(rvIdx); lastTime = r.getLong(rtIdx)
              }
              rBuf.next()
            } else advance = false
          }
        }
        val haveBack = !fwd && haveVal && valKey == lk
        val headFwd = (fwd || near) && rBuf.hasNext &&
          !rBuf.head.isNullAt(rkIdx) && !rBuf.head.isNullAt(rtIdx) &&
          rBuf.head.getLong(rkIdx) == lk
        if (fwd) {
          if (headFwd && !rBuf.head.isNullAt(rvIdx))
            extra.update(0, rBuf.head.getDouble(rvIdx))
          else extra.setNullAt(0)
        } else if (near) {
          val haveFwdVal = headFwd && !rBuf.head.isNullAt(rvIdx)
          if (haveBack && (!haveFwdVal ||
              lt - lastTime <= rBuf.head.getLong(rtIdx) - lt))
            extra.update(0, lastVal)
          else if (haveFwdVal) extra.update(0, rBuf.head.getDouble(rvIdx))
          else extra.setNullAt(0)
        } else {
          if (haveBack) extra.update(0, lastVal)
          else extra.setNullAt(0)
        }
      }
      proj(joined(lRow, extra))
    }
  }

  override def clearDependencies(): Unit = {
    super.clearDependencies()
    leftRdd = null
    rightRdd = null
  }
}
