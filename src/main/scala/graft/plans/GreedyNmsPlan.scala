package graft.plans

import graft.operators.Nms
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** E-NMS as a first-class plan operator (SURVEY §4 custom-piece ladder,
  * rung (c): LogicalPlan + SparkStrategy + SparkPlan) — the same greedy
  * suppression as `Nms.nmsPerFrame`, but WITHOUT the typed
  * `groupByKey.flatMapGroups` object boundary: no row→case-class
  * deserialization, no re-serialization, no whole-group materialization.
  *
  * The physical operator DECLARES what it needs —
  * `ClusteredDistribution(frame_id)` and within-partition ordering
  * (frame_id, conf DESC, det_id) — and EnsureRequirements plans the
  * exchange + sort, exactly as it does for SortMergeJoin. Execution is
  * then one streaming pass over InternalRows: frames arrive contiguous
  * and confidence-sorted, kept boxes accumulate in primitive arrays, and
  * survivors are emitted as they are decided (greedy order; bounded state
  * = one frame's kept boxes). At 100 TB this is the minimum-possible
  * machinery for an order-dependent per-group algorithm: one shuffle, one
  * sort, zero serialization detours.
  */
case class GreedyNmsNode(child: LogicalPlan, iouThreshold: Double) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  // The operator reads EVERY child column (ids, geometry, confidence) even
  // when the parent projects a subset — without this, ColumnPruning sees a
  // node with no expressions, decides the child needs nothing, and strips
  // the box columns the physical pass reads (a bare count() pruned the
  // child to zero columns).
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): GreedyNmsNode =
    copy(child = newChild)
}

case class GreedyNmsExec(child: SparkPlan, iouThreshold: Double) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  private def attr(name: String): Attribute =
    child.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"GreedyNms needs a '$name' column; child has ${child.output.map(_.name).mkString(", ")}"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(attr("frame_id"))) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(
      SortOrder(attr("frame_id"), Ascending),
      SortOrder(attr("conf"), Descending),
      SortOrder(attr("det_id"), Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  protected override def doExecute(): RDD[InternalRow] = {
    val out = child.output
    val fIdx = out.indexWhere(_.name == "frame_id")
    val xIdx = out.indexWhere(_.name == "x")
    val yIdx = out.indexWhere(_.name == "y")
    val wIdx = out.indexWhere(_.name == "w")
    val hIdx = out.indexWhere(_.name == "h")
    val t = iouThreshold
    child.execute().mapPartitions { it =>
      // rows arrive frame-contiguous, conf-desc within frame (declared
      // ordering): stream the greedy pass with per-frame primitive state
      var curFrame = Long.MinValue
      var started = false
      val kx = new scala.collection.mutable.ArrayBuffer[Int]
      val ky = new scala.collection.mutable.ArrayBuffer[Int]
      val kw = new scala.collection.mutable.ArrayBuffer[Int]
      val kh = new scala.collection.mutable.ArrayBuffer[Int]
      it.flatMap { row =>
        // fail LOUDLY on null geometry/frame values: the schema check in
        // GreedyNms.apply sees types, not nullability, and getLong/getInt
        // on a null slot silently reads 0 — a null frame_id would merge
        // its rows into frame 0's suppression group and a null coordinate
        // would anchor a phantom box at the origin. The typed twin
        // (nmsPerFrame over Dataset[Detection]) fails loudly on the same
        // input; the plan-node form must not silently diverge from it.
        if (row.isNullAt(fIdx) || row.isNullAt(xIdx) || row.isNullAt(yIdx)
          || row.isNullAt(wIdx) || row.isNullAt(hIdx))
          throw new IllegalArgumentException(
            "GreedyNms: null frame_id/x/y/w/h in input — NMS geometry " +
              "must be non-null (filter or impute upstream)")
        val f = row.getLong(fIdx)
        if (!started || f != curFrame) {
          started = true; curFrame = f
          kx.clear(); ky.clear(); kw.clear(); kh.clear()
        }
        val x = row.getInt(xIdx); val y = row.getInt(yIdx)
        val w = row.getInt(wIdx); val h = row.getInt(hIdx)
        var i = 0
        var suppressed = false
        while (!suppressed && i < kx.length) {
          if (Nms.iou(kx(i), ky(i), kw(i), kh(i), x, y, w, h) > t) suppressed = true
          i += 1
        }
        if (suppressed) None
        else {
          kx += x; ky += y; kw += w; kh += h
          // sorter iterators reuse their row object; copy before emitting
          Some(row.copy())
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GreedyNmsExec =
    copy(child = newChild)
}

/** Plans GreedyNmsNode → GreedyNmsExec; injected by GraftExtensions. */
object GreedyNmsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GreedyNmsNode(child, t) => GreedyNmsExec(planLater(child), t) :: Nil
    case _ => Nil
  }
}

object GreedyNms {
  /** DataFrame surface: greedy NMS over (frame_id L, det_id L, x/y/w/h I,
    * conf D [, extra columns pass through untouched]). */
  def apply(dets: DataFrame, iouThreshold: Double): DataFrame = {
    val required = Map("frame_id" -> "bigint", "det_id" -> "bigint", "x" -> "int",
      "y" -> "int", "w" -> "int", "h" -> "int", "conf" -> "double")
    val schema = dets.schema.map(f => f.name -> f.dataType.simpleString).toMap
    required.foreach { case (name, tpe) =>
      require(schema.get(name).contains(tpe),
        s"GreedyNms needs $name: $tpe, found ${schema.get(name).getOrElse("missing")}")
    }
    GraftBridge.ofRows(dets.sparkSession,
      GreedyNmsNode(GraftBridge.analyzed(dets), iouThreshold))
  }
}
