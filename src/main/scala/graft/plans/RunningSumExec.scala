package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Descending, Expression, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-operator extension slot (the design brief's option (c)): running
  * sums over a total order as ONE custom physical operator — logical node
  * → [[RunningSumStrategy]] → [[RunningSumExec]], registered through
  * `SparkSessionExtensions.injectPlannerStrategy` in
  * [[graft.GraftExtensions]].
  *
  * r11 generalization (r10 VERDICT directive #5): the exec now computes
  * N running sums in one pass (`sumExprs` — a rank is just a running sum
  * of 1), supports LONG and DOUBLE accumulation, and has a GROUPED form
  * (`groupExprs` non-empty): per-group running sums over the composite
  * order (group, sortOrder...), with the cross-partition offset protocol
  * reduced to PARTITION BOUNDARIES — within a partition sorted by
  * (group, order), only the first group can continue from the previous
  * partition and only the last can spill into the next, so pass 1 ships
  * ≤ 2 boundary entries per partition to the driver (metadata at any
  * scale, independent of group count). [[graft.operators.ScaleOps]]'s
  * globalRank / groupedRank / token-budget kernels route here by
  * default (escape hatch: `spark.graft.nativeRunningSum=false` falls
  * back to the five-step DataFrame choreography).
  *
  * Semantics: append `cumAttrs(i)` = running sum of `sumExprs(i)` (nulls
  * add 0) over the total order — same contract as the DataFrame kernel.
  * Catalyst plans the range exchange + sort for
  * `OrderedDistribution(groupSort ++ sortOrder)`; `doExecute` runs two
  * passes on the shuffled partitions:
  *
  *  1. a partition-totals job (≤ 2 boundary entries × N sums per
  *     partition to the driver — metadata, the `RDD.zipWithIndex`
  *     pattern);
  *  2. a streaming output pass adding each partition's prefix offsets.
  *
  * The shuffled child is pinned with `localCheckpoint()` between the two
  * passes (r10 ADVICE): rows are copied once into block storage, pass 2
  * reads the SAME blocks pass 1 counted, and a lost block fails loudly
  * (truncated lineage) instead of silently recomputing a
  * nondeterministic child into different partition contents than the
  * collected offsets — the exec-level analogue of the DataFrame kernel's
  * localCheckpoint pin.
  *
  * No partition ever holds more than its slice; there is no
  * SinglePartition exchange and no window (plan-asserted in
  * ExtensionRuleSpec). Like every running-sum form in this repo the
  * result is partition-boundary-invariant because the order is total —
  * callers must include a tiebreaker column.
  */
case class RunningSumPlan(groupExprs: Seq[Expression],
                          sortOrder: Seq[SortOrder],
                          sumExprs: Seq[Expression],
                          ops: Seq[String],
                          cumAttrs: Seq[AttributeReference],
                          child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ cumAttrs
  override def producedAttributes: AttributeSet = AttributeSet(cumAttrs)
  override protected def withNewChildInternal(newChild: LogicalPlan): RunningSumPlan =
    copy(child = newChild)
}

object RunningSumStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: RunningSumPlan =>
      RunningSumExec(p.groupExprs, p.sortOrder, p.sumExprs, p.ops,
        p.cumAttrs, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

/** Boundary report of one partition for [[RunningSumExec]]'s pass 1:
  * first/last group key with the per-sum totals of just those groups
  * (equal when one group spans the whole partition — then the flag folds
  * the two entries into one). Top-level on purpose: it ships inside task
  * results, and an inner class would drag the (non-serializable) exec
  * along as its $outer.
  */
private[plans] case class RunningSumBoundary(
    firstKey: Seq[Any], firstTotals: Array[Any],
    lastKey: Seq[Any], lastTotals: Array[Any], singleGroup: Boolean)

case class RunningSumExec(groupExprs: Seq[Expression],
                          sortOrder: Seq[SortOrder],
                          sumExprs: Seq[Expression],
                          ops: Seq[String],
                          cumAttrs: Seq[AttributeReference],
                          child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output ++ cumAttrs
  override def producedAttributes: AttributeSet = AttributeSet(cumAttrs)
  private def fullOrder: Seq[SortOrder] =
    groupExprs.map(SortOrder(_, Ascending)) ++ sortOrder
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(OrderedDistribution(fullOrder))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(fullOrder)
  override def outputOrdering: Seq[SortOrder] = fullOrder
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val boundSums = sumExprs.map(BindReferences.bindReference(_, child.output))
    val boundGroups = groupExprs.map(BindReferences.bindReference(_, child.output))
    val dts: Array[DataType] = cumAttrs.map(_.dataType).toArray
    val nSums = boundSums.length
    val opArr = ops.toArray
    // monoid identity: 0 for sum, null (absorbed by the first value) for
    // min/max — so an all-null prefix reports null, not a sentinel
    def zero(i: Int): Any =
      if (opArr(i) != "sum") null
      else dts(i) match {
        case LongType => 0L
        case DoubleType => 0.0
        case other => throw new IllegalStateException(s"unsupported $other")
      }
    // combine an accumulated value with the next value (raw eval output
    // OR another accumulated value — both are Numbers when non-null)
    def plus(i: Int, a: Any, v: Any): Any = {
      if (v == null) return a
      val isLong = dts(i) == LongType
      val vc: Any =
        if (isLong) v.asInstanceOf[Number].longValue()
        else v.asInstanceOf[Number].doubleValue()
      if (a == null) return vc // min/max identity
      opArr(i) match {
        case "sum" =>
          if (isLong) a.asInstanceOf[Long] + vc.asInstanceOf[Long]
          else a.asInstanceOf[Double] + vc.asInstanceOf[Double]
        case "min" =>
          if (isLong) math.min(a.asInstanceOf[Long], vc.asInstanceOf[Long])
          else math.min(a.asInstanceOf[Double], vc.asInstanceOf[Double])
        case "max" =>
          if (isLong) math.max(a.asInstanceOf[Long], vc.asInstanceOf[Long])
          else math.max(a.asInstanceOf[Double], vc.asInstanceOf[Double])
        case other =>
          throw new IllegalStateException(s"unsupported op $other")
      }
    }
    // group key as driver-comparable values (UTF8String copied out of the
    // reused row buffer)
    def keyOf(row: InternalRow): Seq[Any] = boundGroups.map { g =>
      g.eval(row) match {
        case u: UTF8String => u.toString
        case x => x
      }
    }
    // pass 1 and pass 2 must see identical partition contents. The
    // post-shuffle RDD is always flagged UNORDERED (fetch interleave),
    // but this exec re-sorts by a TOTAL order (caller contract:
    // tie-free), so replayed partition contents are value-identical as
    // long as every shuffle ancestor's MAP side replays identically —
    // then the two passes simply re-read the shuffle files: no copy, no
    // cache, no doubled storage at 100 TB. A genuinely nondeterministic
    // lineage (sampled/random source) is pinned with a localCheckpoint
    // instead: rows are copied into block storage, and a lost block
    // FAILS (truncated lineage) rather than silently recomputing into
    // different partition contents than the collected offsets (r10
    // ADVICE).
    // Pinning a determinate lineage too (re-reading cached sorted rows
    // instead of re-running the sort in pass 2) measured within run noise
    // (PERF.md r11) and doubles storage, so only a nondeterministic
    // lineage is pinned.
    val raw = child.execute()
    val grouped = boundGroups.nonEmpty
    // small-input fast path (r12 directive #3): with a single child
    // partition there is nothing to carry — every offset is the monoid
    // identity, so BOTH fixed costs are pure overhead: the
    // boundary-totals job (an entire extra Spark job + collect, the
    // ~0.2-0.3 s constant x129/x134 paid at sf0.1) AND the
    // determinism pin (with one pass there is no replay to diverge
    // from). AQE coalesces a tiny range exchange to one partition, so
    // exactly the small inputs that feel the constant hit this branch;
    // crossover is documented in PERF.md. What the fast path does NOT
    // skip is the determinism pin (ADVICE r12): "no second pass" only
    // removes the boundary protocol, not DOWNSTREAM recomputation — a
    // coalesced shuffle partition with ties in the sort key can replay
    // in a different row order on task retry, reattaching cumulative
    // values to different rows, so the pin condition is evaluated here
    // exactly as on the multi-partition path (a determinate map
    // side still skips it, keeping the x129/x134 constant-cost win).
    def pinIfNeeded(rdd: org.apache.spark.rdd.RDD[InternalRow]) =
      if (org.apache.spark.sql.graftshim.RddShim.mapSideDeterminate(rdd))
        rdd
      else rdd.map(_.copy()).localCheckpoint()
    if (raw.getNumPartitions <= 1)
      return runFinalPass(pinIfNeeded(raw),
        Array.fill(math.max(raw.getNumPartitions, 1))(
          Array.tabulate[Any](nSums)(zero)),
        boundSums, boundGroups, grouped, dts, zero, plus, keyOf)
    val childRDD = pinIfNeeded(raw)
    // pass 1: boundary totals — one job, metadata-scale collect
    val boundaries: Array[Option[RunningSumBoundary]] = childRDD.mapPartitions { it =>
      if (!it.hasNext) Iterator.single(None)
      else {
        var firstKey: Seq[Any] = null
        var firstTotals: Array[Any] = null
        var curKey: Seq[Any] = null
        var curTotals = Array.tabulate[Any](nSums)(zero)
        var single = true
        it.foreach { row =>
          val k = if (grouped) keyOf(row) else Nil
          if (curKey == null) { curKey = k; firstKey = k }
          else if (grouped && k != curKey) {
            if (firstTotals == null) firstTotals = curTotals
            else single = false
            curKey = k
            curTotals = Array.tabulate[Any](nSums)(zero)
          }
          var i = 0
          while (i < nSums) {
            curTotals(i) = plus(i, curTotals(i), boundSums(i).eval(row))
            i += 1
          }
        }
        val ft = if (firstTotals == null) curTotals else firstTotals
        val sg = firstTotals == null
        Iterator.single(Some(RunningSumBoundary(firstKey, ft, curKey, curTotals,
          sg && single)))
      }
    }.collect()
    // driver-side carry walk in partition order: offset of partition p's
    // FIRST group = the carried total when the carried key matches
    val offsets = Array.fill[Array[Any]](boundaries.length)(
      Array.tabulate[Any](nSums)(zero))
    var carryKey: Seq[Any] = null
    var carryTotals: Array[Any] = Array.tabulate[Any](nSums)(zero)
    boundaries.zipWithIndex.foreach {
      case (None, _) => // empty partition: carry passes through
      case (Some(b), p) =>
        val continues = carryKey != null &&
          (!grouped || carryKey == b.firstKey)
        if (continues) offsets(p) = carryTotals.clone()
        if (b.singleGroup) {
          val base = if (continues) carryTotals else
            Array.tabulate[Any](nSums)(zero)
          carryKey = b.firstKey
          carryTotals = Array.tabulate[Any](nSums)(i =>
            plus(i, base(i), b.firstTotals(i)))
        } else {
          carryKey = b.lastKey
          carryTotals = b.lastTotals.clone()
        }
    }
    runFinalPass(childRDD, offsets, boundSums, boundGroups, grouped, dts,
      zero, plus, keyOf)
  }

  /** Pass 2 (shared by the boundary path and the single-partition fast
    * path): stream each partition once, starting each partition's first
    * group from its carried offset.
    */
  private def runFinalPass(childRDD: RDD[InternalRow],
                           offsets: Array[Array[Any]],
                           boundSums: Seq[Expression],
                           boundGroups: Seq[Expression],
                           grouped: Boolean, dts: Array[DataType],
                           zero: Int => Any, plus: (Int, Any, Any) => Any,
                           keyOf: InternalRow => Seq[Any]): RDD[InternalRow] = {
    val nSums = boundSums.length
    val outputAttrs = output
    childRDD.mapPartitionsWithIndex { (idx, it) =>
      val proj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val joined = new JoinedRow
      val cumRow = new SpecificInternalRow(dts.toSeq)
      val acc = offsets(idx).clone()
      var curKey: Seq[Any] = null
      it.map { row =>
        if (grouped) {
          val k = keyOf(row)
          if (curKey == null) curKey = k
          else if (k != curKey) {
            // a new group starts fresh — only the partition's first group
            // carries an offset from earlier partitions
            curKey = k
            var i = 0
            while (i < nSums) { acc(i) = zero(i); i += 1 }
          }
        }
        var i = 0
        while (i < nSums) {
          acc(i) = plus(i, acc(i), boundSums(i).eval(row))
          if (acc(i) == null) cumRow.setNullAt(i)
          else dts(i) match {
            case LongType => cumRow.setLong(i, acc(i).asInstanceOf[Long])
            case _ => cumRow.setDouble(i, acc(i).asInstanceOf[Double])
          }
          i += 1
        }
        proj(joined(row, cumRow))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): RunningSumExec =
    copy(child = newChild)
}

/** Public API for the native operator. [[attach]] keeps the r10 surface
  * (one LONG running sum over (columnName, ascending) sort specs);
  * [[attachAll]] is the full r11 form: optional group columns, multiple
  * sum columns (name `null` ⇒ a running COUNT, i.e. a rank), LONG or
  * DOUBLE. Columns resolve by name against the analyzed child — classic
  * Columns carry lazily-resolved wrapper nodes that only standard
  * operators convert, so a custom logical node must bind real attributes
  * itself.
  */
object NativeRunningSum {
  def attach(df: DataFrame, sortSpecs: Seq[(String, Boolean)],
             sumCol: String, name: String = "__cum"): DataFrame =
    attachAll(df, Nil, sortSpecs, Seq(Some(sumCol) -> name))

  /** `sums`: (Some(column) → running sum of it; None → running count
    * (rank)) paired with the output column name. */
  def attachAll(df: DataFrame, groupCols: Seq[String],
                sortSpecs: Seq[(String, Boolean)],
                sums: Seq[(Option[String], String)]): DataFrame =
    attachAgg(df, groupCols, sortSpecs,
      sums.map { case (c, n) => (c, "sum", n) })

  /** Full monoid form (r11): each agg is (column, op, outName) with op ∈
    * {sum, min, max} — a running MIN over a descending order is a
    * reverse cumulative min (what BH-adjusted p-values need), same
    * boundary-offset protocol, since min/max carry exactly like sums.
    * column None ⇒ a running count (op must be sum). min/max outputs are
    * nullable (an all-null prefix has no value yet); double NaNs are not
    * supported under min/max (java.lang.Math semantics would apply).
    */
  def attachAgg(df: DataFrame, groupCols: Seq[String],
                sortSpecs: Seq[(String, Boolean)],
                aggs: Seq[(Option[String], String, String)]): DataFrame = {
    val child = PlanShim.logical(df)
    def attrOf(n: String): Attribute =
      child.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"NativeRunningSum: no column '$n' in ${child.output.map(_.name)}"))
    aggs.foreach { case (c, op, _) =>
      require(Set("sum", "min", "max")(op),
        s"NativeRunningSum: unknown op '$op'")
      require(c.nonEmpty || op == "sum",
        "NativeRunningSum: a running count needs op=sum")
    }
    val aggExprs = aggs.map {
      case (Some(c), _, _) =>
        val a = attrOf(c)
        require(a.dataType == LongType || a.dataType == DoubleType,
          s"NativeRunningSum: '$c' must be LONG or DOUBLE (got ${a.dataType})")
        a: Expression
      case (None, _, _) =>
        org.apache.spark.sql.catalyst.expressions.Literal(1L): Expression
    }
    val cumAttrs = aggs.zip(aggExprs).map { case ((_, op, name), e) =>
      AttributeReference(name, e.dataType, nullable = op != "sum")()
    }
    // group keys are compared with JVM equality in keyOf, which copies
    // UTF8String out of the reused row buffer but cannot normalize
    // BinaryType (Array[Byte] reference equality ⇒ every row a new group)
    // or struct/array values (alias the reused UnsafeRow buffer) — guard
    // the datatypes here rather than silently mis-group (ADVICE r11)
    groupCols.foreach { n =>
      import org.apache.spark.sql.types._
      val dt = attrOf(n).dataType
      val badKey = dt == BinaryType || dt.isInstanceOf[StructType] ||
        dt.isInstanceOf[ArrayType] || dt.isInstanceOf[MapType] ||
        dt.isInstanceOf[UserDefinedType[_]]
      require(!badKey,
        s"NativeRunningSum: group column '$n' must be an atomic " +
          s"non-binary type (got $dt) — binary/nested keys would compare " +
          "by JVM reference in the boundary protocol")
    }
    val sortOrder = sortSpecs.map { case (n, asc) =>
      SortOrder(attrOf(n), if (asc) Ascending else Descending)
    }
    PlanShim.ofRows(df.sparkSession,
      RunningSumPlan(groupCols.map(attrOf), sortOrder, aggExprs,
        aggs.map(_._2), cumAttrs, child))
  }
}
