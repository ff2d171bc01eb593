package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S2 — the class-name dimension loader (`coco.names` → positional ids,
  * `main.py:47-48`).
  *
  * Names are `trim`med: the reference checkout is CRLF-terminated while
  * `main.py:48` splits on "\n" only, so every class name but the last
  * carries a trailing '\r' and the `classes[id] == "person"` gate
  * (`main.py:211`) silently drops everything. SURVEY §1.3 records the
  * intended semantics as the trimmed match; this loader implements them.
  *
  * The dim is tiny (80 rows); callers join it as a broadcast side
  * (SURVEY §1.1: "small dim DataFrame, always broadcast").
  */
object ClassDim {

  /** Load `path` (one class name per line; line number = class_id). */
  def load(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // rdd zipWithIndex: line order within a single text file is the file
    // order, which IS the id assignment contract of the reference
    spark.read.textFile(path).rdd
      .zipWithIndex()
      .map { case (name, idx) => (idx.toInt, name.trim) }
      .toDF("class_id", "class_name")
  }
}
