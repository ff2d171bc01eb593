package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One detection box (shape from `main.py:98-122`: accumulated
  * boxes/confidences/class_ids per frame). */
case class Detection(det_id: Long, frame_id: Long, x: Int, y: Int, w: Int, h: Int,
                     conf: Double, class_id: Int)

/** E-NMS — greedy non-maximum suppression (SURVEY §2.2 P9, §7.4 hard part
  * #1): per frame, sort by confidence desc, greedily keep, suppress any
  * later box with IoU > threshold against a kept box
  * (`cv2.dnn.NMSBoxes`, `main.py:125, 222-223`).
  *
  * Greedy NMS is order-dependent and not expressible as a single relational
  * query without recursion, so it runs as a typed `flatMapGroups` per frame
  * — groups are per-frame and tiny (≤ hundreds of boxes), so the in-memory
  * greedy loop is O(n²) on a bounded n while frames themselves scale out
  * across executors via the groupByKey shuffle. Tie-break is deterministic:
  * conf desc, then det_id asc (SURVEY §7.4 #1).
  *
  * `dominance` is the SQL-expressible relative: a box survives iff NO
  * stronger same-frame box overlaps it (anti theta-join on the IoU
  * predicate = SURVEY E-JOIN-THETA). Same flavor, subtly different
  * semantics (dominance can suppress a box whose suppressor was itself
  * suppressed) — it exists to give the oracle an exact target while greedy
  * is covered by property/reference tests.
  */
object Nms {

  /** Intersection-over-union of two boxes in (x, y, w, h) corner+size form. */
  def iou(ax: Int, ay: Int, aw: Int, ah: Int,
          bx: Int, by: Int, bw: Int, bh: Int): Double = {
    val ix = math.max(0, math.min(ax + aw, bx + bw) - math.max(ax, bx))
    val iy = math.max(0, math.min(ay + ah, by + bh) - math.max(ay, by))
    val inter = ix.toLong * iy
    val union = aw.toLong * ah + bw.toLong * bh - inter
    if (union <= 0) 0.0 else inter.toDouble / union
  }

  def iou(a: Detection, b: Detection): Double =
    iou(a.x, a.y, a.w, a.h, b.x, b.y, b.w, b.h)

  /** Greedy pass over one frame's detections (the `NMSBoxes` semantics). */
  def greedy(dets: Seq[Detection], iouThreshold: Double): Seq[Detection] = {
    val sorted = dets.sortBy(d => (-d.conf, d.det_id))
    val kept = scala.collection.mutable.ArrayBuffer.empty[Detection]
    sorted.foreach { d =>
      if (!kept.exists(k => iou(k, d) > iouThreshold)) kept += d
    }
    kept.toSeq
  }

  /** Distributed greedy NMS: one group per frame_id. */
  def nmsPerFrame(ds: Dataset[Detection], iouThreshold: Double): Dataset[Detection] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.frame_id)
      .flatMapGroups((_, it) => greedy(it.toSeq, iouThreshold).iterator)
  }

  /** Row-local greedy NMS: kept INDICES into parallel box/conf arrays —
    * the `cv2.dnn.NMSBoxes(boxes, confidences, confT, iouT)` signature
    * (`main.py:125`). When detections are nested per frame row (the
    * natural source shape, SURVEY §1.1), suppression never needs the
    * groupByKey shuffle at all: it is a scalar function of one row, safe
    * in streaming and embarrassingly parallel at any scale. */
  def keepIndices(xs: Seq[Int], ys: Seq[Int], ws: Seq[Int], hs: Seq[Int],
                  confs: Seq[Double], confThreshold: Double, iouThreshold: Double): Seq[Int] = {
    val order = confs.indices
      .filter(i => confs(i) > confThreshold)
      .sortBy(i => (-confs(i), i))
    val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
    order.foreach { i =>
      if (!kept.exists(k => iou(xs(k), ys(k), ws(k), hs(k), xs(i), ys(i), ws(i), hs(i)) > iouThreshold))
        kept += i
    }
    kept.sorted.toSeq
  }

  /** Deterministic detection synth from the events fixture (event_id is
    * unique+monotonic, so ids and tie-breaks are stable): frame = user_id,
    * box geometry from integer functions of event_id, conf = value. */
  def detectionsFromEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id").as("det_id"),
      col("user_id").as("frame_id"),
      ((col("event_id") * 37) % 400).cast("int").as("x"),
      ((col("event_id") * 73) % 400).cast("int").as("y"),
      (lit(40) + (col("event_id") % 4) * 20).cast("int").as("w"),
      (lit(40) + (col("event_id") % 3) * 25).cast("int").as("h"),
      col("value").as("conf"),
      (col("event_id") % 3).cast("int").as("class_id"))

  /** Greedy NMS over the synthesized detections — driver rows-only check
    * (greedy is not single-pass-SQL-expressible); exact semantics are
    * covered by NmsSpec (reference impl + laws). */
  def greedyQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // named loud failure on null inputs, matching the GreedyNmsExec
    // null-geometry guard word for word — the typed twin must not fail
    // with a DIFFERENT (generic encoder) error on the same dirty input.
    // Only the three source columns can be null: x/y/w/h/class_id derive
    // from event_id, so a null there raises via det_id first.
    def req(c: Column, tpe: String): Column = coalesce(c, raise_error(
      lit("GreedyNms: null frame_id/x/y/w/h in input — NMS geometry " +
        "must be non-null (filter or impute upstream)")).cast(tpe))
    val dets = detectionsFromEvents(spark, dir)
      .withColumn("det_id", req(col("det_id"), "bigint"))
      .withColumn("frame_id", req(col("frame_id"), "bigint"))
      .withColumn("conf", req(col("conf"), "double"))
      .as[Detection]
    nmsPerFrame(dets, 0.3).toDF()
      .select("frame_id", "det_id", "conf")
      .orderBy("frame_id", "det_id")
  }

  /** Greedy NMS through the custom plan operator (GreedyNmsNode →
    * GreedyNmsExec via GreedyNmsStrategy): identical semantics to
    * greedyQuery — and therefore the same recursive-CTE oracle — with the
    * typed flatMapGroups object boundary replaced by one InternalRow pass
    * behind a declared exchange + sort. */
  def greedyExecQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GreedyNms(detectionsFromEvents(spark, dir), 0.3)
      .select("frame_id", "det_id", "conf")
      .orderBy("frame_id", "det_id")
  }

  /** Dominance suppression (anti theta-join, oracle-checkable): box b
    * survives iff no same-frame box a with (conf, id) strictly stronger has
    * IoU(a, b) > 0.3. */
  def dominanceQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Iou.{box, iou => iouExpr}
    val dets = detectionsFromEvents(spark, dir)
    val a = dets.as("a")
    val b = dets.as("b")
    // codegen'd custom expression (graft.functions.Iou) — same arithmetic
    // as the inline greatest/least formulation and the DuckDB oracle
    val iouCol = iouExpr(
      box(col("a.x"), col("a.y"), col("a.w"), col("a.h")),
      box(col("b.x"), col("b.y"), col("b.w"), col("b.h")))
    val stronger = col("a.conf") > col("b.conf") ||
      (col("a.conf") === col("b.conf") && col("a.det_id") < col("b.det_id"))
    b.join(a,
        col("a.frame_id") === col("b.frame_id") && stronger && iouCol > 0.3,
        "left_anti")
      .select(col("frame_id"), col("det_id"), col("conf"))
      .orderBy("frame_id", "det_id")
  }
}
