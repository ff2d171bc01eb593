package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A path-addressed, append-only BUCKETED state table — the shared
  * layout behind the persisted indexes that are built once per fixture
  * content and then only probed: the IVF posting lists
  * (Ivf.ivfAppend), the unigram LM model (TextOps.lmModelAppend), the
  * exact-substring gram index (TextOps.substringFold) and the
  * semantic-dedup vector index (VectorOps.semDedupIncrement).
  *
  * Why this shape at 100 TB: a probe joins a delta against a
  * corpus-sized state. As flat parquet, every probe re-shuffles the
  * state; as an external table CLUSTERED BY the join keys, the scan
  * comes out hash-partitioned on those keys, so probe joins and fold
  * anti-joins plan NO Exchange on the state side — only the (small)
  * delta moves. Appends are delta-sized, replay-idempotent when the
  * caller filters to novel rows, and crash-safe (an uncommitted
  * append's _temporary files are invisible to scans; re-running
  * appends exactly what's missing).
  *
  * The DATA outlives the in-memory catalog: when a fresh session lacks
  * the table entry but committed files exist at the path, [[ensure]]
  * re-registers the external bucketed table by DDL — sound because every
  * file at the path was bucket-written through this object, so declaring
  * CLUSTERED BY over them preserves the layout contract.
  *
  * SINGLE-WRITER per path, like a Structured Streaming checkpoint dir:
  * concurrent appends from two processes can interleave safely only at
  * the file level.
  *
  * @param path       directory holding the bucketed data files
  * @param prefix     catalog-name prefix; the table name is
  *                   prefix + md5(canonical path), so every distinct
  *                   path gets its own deterministic entry
  * @param schemaDdl  column list for DDL re-registration, e.g.
  *                   "k BIGINT, min_doc BIGINT" — must match what the
  *                   writes produce
  * @param bucketCols the CLUSTERED BY / SORTED BY keys
  * @param nBuckets   bucket count — fixed at table creation (appends
  *                   must match); size near the cluster's
  *                   shuffle-partition count once, at first creation
  */
final case class BucketedState(path: String, prefix: String, schemaDdl: String,
                               bucketCols: Seq[String], nBuckets: Int) {

  def table: String = {
    val canonical = new java.io.File(path).getAbsolutePath
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString
    prefix + md5
  }

  private def quotedCols = bucketCols.map(c => s"`$c`").mkString(", ")

  /** The registered table for this path, re-registering from on-disk
    * files if this session's catalog has never seen it; None when no
    * committed data exists yet. */
  def ensure(spark: SparkSession): Option[String] = {
    val t = table
    if (spark.catalog.tableExists(t)) Some(t)
    else if (hasCommittedData) {
      val loc = new java.io.File(path).getAbsolutePath
      // loc reaches SQL text (the rfm interpolation audit): temp/fixture
      // paths are quote-free; refuse rather than mis-quote
      require(!loc.contains("'"), s"state path must not contain quotes: $loc")
      spark.sql(
        s"""CREATE TABLE $t ($schemaDdl)
           |USING parquet
           |CLUSTERED BY ($quotedCols) SORTED BY ($quotedCols)
           |INTO $nBuckets BUCKETS
           |LOCATION '$loc'""".stripMargin)
      Some(t)
    } else None
  }

  /** Append one delta (creating the external bucketed table on first
    * contact). The caller is responsible for novelty filtering when
    * replay-idempotence is wanted — typically an anti-join whose keys
    * include the bucket columns, which itself plans exchange-free on
    * the state side. Returns the table name.
    *
    * The delta is MATERIALIZED before the insert (r16 — the ScaleProbe
    * shuffle meter caught this): embedded inside an
    * InsertIntoHadoopFsRelationCommand, the planner DISABLES the
    * bucketed scan on the state side of the caller's anti-join
    * ("Bucketed: false (disabled by query planner)") and re-shuffles
    * the WHOLE index on every fold — index-sized exchange per delta,
    * exactly what the bucketed layout exists to avoid. Planned
    * standalone, the same anti-join keeps the bucketed scan (the
    * per-leg no-Exchange plan pins), so one delta-sized eager
    * materialization buys an index-size-flat fold. */
  def append(spark: SparkSession, df: DataFrame): String =
    ensure(spark) match {
      case Some(t) =>
        graft.plans.Eager.materialize(df)._1
          .write.format("parquet").mode("append")
          .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
          .sortBy(bucketCols.head, bucketCols.tail: _*)
          .saveAsTable(t)
        t
      case None =>
        val dir = new java.io.File(path)
        // only uncommitted garbage can be here (a crashed first append's
        // _temporary) — committed data would have registered above
        if (dir.exists()) Writers.deleteRecursively(dir)
        df.write.format("parquet")
          .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
          .sortBy(bucketCols.head, bucketCols.tail: _*)
          .option("path", dir.getAbsolutePath)
          .saveAsTable(table)
        table
    }

  /** True iff the path holds COMMITTED parquet data — files under an
    * in-flight append's _temporary staging don't count (the
    * upsertSinkBatch bare-directory lesson). */
  private def hasCommittedData: Boolean = {
    def rec(f: java.io.File): Boolean = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      kids.exists(k => k.isFile && k.getName.endsWith(".parquet")
        && !k.getName.startsWith(".") && !k.getName.startsWith("_")) ||
        kids.exists(k => k.isDirectory && k.getName != "_temporary" && rec(k))
    }
    rec(new java.io.File(path))
  }
}
