package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Grouped top-k as a WHOLE-OPERATOR Catalyst extension — the custom
  * `LogicalPlan` + `Strategy` + `SparkPlan` tier of operator
  * extension (the other tiers — native `Expression`s and an optimizer
  * `Rule` — are demonstrated by graft.functions). The physical shape
  * mirrors what a hand-written aggregation would plan:
  *
  *   GroupedTopKFinalExec            (k rows per group, ranked)
  *     +- Exchange hash(group)       (inserted by EnsureRequirements —
  *     |                              the exec only DECLARES its
  *     |                              required distribution)
  *     +- GroupedTopKPartialExec     (map-side: ≤k rows per group per
  *          +- child                  partition cross the shuffle)
  *
  * Selection order is EXACTLY (score desc — NaN first, id asc), the
  * same total order as functions.TopK and the row_number oracle, so
  * all three formulations are bit-identical. The group key may be
  * `long` (the ANN contract — fully primitive hot loop, no boxing) or
  * `string` (per-language / per-source rollups; keys are UTF8String,
  * copied only on first insertion, while lookups stay zero-copy);
  * id stays long and score double in both paths (VERDICT r3 #7:
  * accessors chosen per type driver-side, never a generic ordering).
  */
object GroupedTopK {

  /** Same total order as TopK.better: score desc with NaN ranked above
    * every number (Spark's `desc` and DuckDB's ORDER BY DESC agree),
    * ties by id asc. */
  private[plans] def better(aScore: Double, aId: Long, bScore: Double, bId: Long): Boolean = {
    val aNaN = aScore.isNaN; val bNaN = bScore.isNaN
    if (aNaN != bNaN) aNaN
    else if (!aNaN && aScore != bScore) aScore > bScore
    else aId < bId
  }

  /** Bounded insertion-sorted buffer (k is small). */
  private[plans] final class Buf(k: Int) {
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)
    var n = 0
    def insert(score: Double, id: Long): Unit = {
      if (n == k && !better(score, id, scores(n - 1), ids(n - 1))) return
      var pos = if (n < k) n else n - 1
      while (pos > 0 && better(score, id, scores(pos - 1), ids(pos - 1))) {
        if (pos < k) { scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1) }
        pos -= 1
      }
      scores(pos) = score; ids(pos) = id
      if (n < k) n += 1
    }
  }

  /** Plan `df`'s (group, id, score) through the native operator.
    * Output (group, id, score, rank) matches TopK.perGroup exactly. */
  def apply(df: DataFrame, groupCol: String, idCol: String, scoreCol: String,
      k: Int): DataFrame = {
    val selected = df
      .select(col(groupCol), col(idCol), col(scoreCol))
      .filter(col(scoreCol).isNotNull) // same null contract as TopK.perGroup
    val plan = selected.queryExecution.analyzed
    val Seq(g, i, sc) = plan.output
    require((g.dataType == LongType || g.dataType == StringType)
      && i.dataType == LongType && sc.dataType == DoubleType,
      s"GroupedTopK needs (long|string, long, double), got " +
        s"(${g.dataType}, ${i.dataType}, ${sc.dataType})")
    val rank = AttributeReference("rank", LongType, nullable = false)()
    org.apache.spark.sql.GraftPlanBridge.ofRows(df.sparkSession,
      GroupedTopKNode(g, i, sc, k, rank, plan))
  }
}

/** Logical operator: k best (score, id) rows per group of `child`. */
final case class GroupedTopKNode(group: Attribute, id: Attribute, score: Attribute,
    k: Int, rankAttr: Attribute, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = Seq(group, id, score, rankAttr)
  // rank is born here, not consumed from the child — without this the
  // analyzer's missingInput check rejects the node
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedTopKNode =
    copy(child = newChild)
}

/** Planner strategy (injected via GraftExtensions): one logical node →
  * partial + final physical pair; the exchange between them comes from
  * the final exec's required distribution. */
object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopKNode(g, i, sc, k, rank, child) =>
      GroupedTopKFinalExec(g, i, sc, k, rank,
        GroupedTopKPartialExec(g, i, sc, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Shared per-partition top-k pass. Ordinals are resolved DRIVER-side
  * (`ordinals`) and only primitives cross into the task closure — a
  * SparkPlan captured in an RDD closure would fail serialization. */
private[plans] trait TopKPass { self: UnaryExecNode =>
  def groupAttr: Attribute
  def idAttr: Attribute
  def scoreAttr: Attribute
  def k: Int

  /** (group, id, score) ordinals in `child.output` — call on the driver. */
  protected def ordinals: (Int, Int, Int) = {
    val gOrd = child.output.indexWhere(_.exprId == groupAttr.exprId)
    val iOrd = child.output.indexWhere(_.exprId == idAttr.exprId)
    val sOrd = child.output.indexWhere(_.exprId == scoreAttr.exprId)
    require(gOrd >= 0 && iOrd >= 0 && sOrd >= 0, "top-k columns missing from child")
    (gOrd, iOrd, sOrd)
  }
}

private[plans] object TopKPass {
  def foldPartition(iter: Iterator[InternalRow], gOrd: Int, iOrd: Int, sOrd: Int,
      k: Int): java.util.LinkedHashMap[Long, GroupedTopK.Buf] = {
    val buffers = new java.util.LinkedHashMap[Long, GroupedTopK.Buf]()
    while (iter.hasNext) {
      val row = iter.next()
      if (!row.isNullAt(gOrd) && !row.isNullAt(iOrd) && !row.isNullAt(sOrd)) {
        val g = row.getLong(gOrd)
        var buf = buffers.get(g)
        if (buf == null) { buf = new GroupedTopK.Buf(k); buffers.put(g, buf) }
        buf.insert(row.getDouble(sOrd), row.getLong(iOrd))
      }
    }
    buffers
  }

  /** String-group twin of foldPartition. Lookups use the transient
    * UTF8String pointing into the (reused) unsafe row buffer —
    * content-based equals/hashCode make that safe and zero-copy; the
    * key is .copy()'d ONLY when it is first stored in the map. */
  def foldPartitionStr(iter: Iterator[InternalRow], gOrd: Int, iOrd: Int, sOrd: Int,
      k: Int): java.util.LinkedHashMap[UTF8String, GroupedTopK.Buf] = {
    val buffers = new java.util.LinkedHashMap[UTF8String, GroupedTopK.Buf]()
    while (iter.hasNext) {
      val row = iter.next()
      if (!row.isNullAt(gOrd) && !row.isNullAt(iOrd) && !row.isNullAt(sOrd)) {
        val g = row.getUTF8String(gOrd)
        var buf = buffers.get(g)
        if (buf == null) { buf = new GroupedTopK.Buf(k); buffers.put(g.copy(), buf) }
        buf.insert(row.getDouble(sOrd), row.getLong(iOrd))
      }
    }
    buffers
  }

  /** Type-dispatched per-partition fold shared by the partial and final
    * execs: group keys surface as boxed AnyRef (java.lang.Long or
    * UTF8String) so one emit loop serves both key types. */
  def entries(iter: Iterator[InternalRow], gOrd: Int, iOrd: Int, sOrd: Int,
      k: Int, stringGroup: Boolean): Iterator[(AnyRef, GroupedTopK.Buf)] = {
    import scala.jdk.CollectionConverters._
    if (stringGroup)
      foldPartitionStr(iter, gOrd, iOrd, sOrd, k)
        .entrySet().iterator().asScala.map(e => (e.getKey.asInstanceOf[AnyRef], e.getValue))
    else
      foldPartition(iter, gOrd, iOrd, sOrd, k)
        .entrySet().iterator().asScala.map(e => (e.getKey.asInstanceOf[AnyRef], e.getValue))
  }
}

/** Map-side pass: ≤k rows per (group, partition) cross the shuffle. */
final case class GroupedTopKPartialExec(groupAttr: Attribute, idAttr: Attribute,
    scoreAttr: Attribute, k: Int, child: SparkPlan)
    extends UnaryExecNode with TopKPass {
  override def output: Seq[Attribute] = Seq(groupAttr, idAttr, scoreAttr)
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): GroupedTopKPartialExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val (gOrd, iOrd, sOrd) = ordinals
    val kk = k
    val stringGroup = groupAttr.dataType == StringType
    child.execute().mapPartitions({ iter =>
      val proj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](
        if (stringGroup) StringType else LongType, LongType, DoubleType))
      val out = new GenericInternalRow(3)
      TopKPass.entries(iter, gOrd, iOrd, sOrd, kk, stringGroup).flatMap { case (g, b) =>
        (0 until b.n).iterator.map { j =>
          out.update(0, g); out.update(1, b.ids(j)); out.update(2, b.scores(j))
          proj(out)
        }
      }
    }, preservesPartitioning = true)
  }
}

/** Reduce-side pass: declares hash(group) clustering (EnsureRequirements
  * inserts the exchange), merges the partial buffers, emits ranked rows. */
final case class GroupedTopKFinalExec(groupAttr: Attribute, idAttr: Attribute,
    scoreAttr: Attribute, k: Int, rankAttr: Attribute, child: SparkPlan)
    extends UnaryExecNode with TopKPass {
  override def output: Seq[Attribute] = Seq(groupAttr, idAttr, scoreAttr, rankAttr)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(groupAttr)) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): GroupedTopKFinalExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val (gOrd, iOrd, sOrd) = ordinals
    val kk = k
    val stringGroup = groupAttr.dataType == StringType
    child.execute().mapPartitions({ iter =>
      val proj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](
        if (stringGroup) StringType else LongType, LongType, DoubleType, LongType))
      val out = new GenericInternalRow(4)
      TopKPass.entries(iter, gOrd, iOrd, sOrd, kk, stringGroup).flatMap { case (g, b) =>
        (0 until b.n).iterator.map { j =>
          out.update(0, g); out.update(1, b.ids(j)); out.update(2, b.scores(j))
          out.update(3, (j + 1).toLong)
          proj(out)
        }
      }
    }, preservesPartitioning = true)
  }
}
