package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A path-addressed, append-only BUCKETED state table — the shared
  * layout discipline behind the incremental-dedup band index
  * (TextOps.dedupIncrement) and the incremental IVF posting lists
  * (Ivf.ivfAppend), extracted in r12 once the second consumer appeared.
  *
  * Why this shape at 100 TB: a daily-maintenance loop probes and folds a
  * corpus-sized state every run. As flat parquet, every probe re-shuffles
  * the state; as an external table CLUSTERED BY the join keys, the scan
  * comes out hash-partitioned on those keys, so probe joins, fold
  * anti-joins, and compaction aggregates all plan NO Exchange on the
  * state side — only the (small) delta moves. The fold is APPEND-ONLY:
  * appends are delta-sized, replay-idempotent when the caller filters to
  * novel rows, and crash-safe (an uncommitted append's _temporary files
  * are invisible to scans; re-running appends exactly what's missing).
  *
  * The DATA outlives the in-memory catalog: when a fresh session lacks
  * the table entry but committed files exist at the path, [[ensure]]
  * re-registers the external bucketed table by DDL — sound because every
  * file at the path was bucket-written through this object, so declaring
  * CLUSTERED BY over them preserves the layout contract.
  *
  * SINGLE-WRITER per path, like a Structured Streaming checkpoint dir:
  * concurrent appends from two processes can interleave safely only at
  * the file level, and compaction must not race a fold — serialize
  * maintenance (the maintainAggState discipline).
  *
  * @param path       directory holding the bucketed data files
  * @param prefix     catalog-name prefix; the table name is
  *                   prefix + md5(canonical path), so every distinct
  *                   path gets its own deterministic entry
  * @param schemaDdl  column list for DDL re-registration, e.g.
  *                   "band INT, `key` STRING, min_doc BIGINT" — must
  *                   match what the writes produce
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

  /** Repartition a delta into THIS state's bucket layout (bucket count
    * AND columns) before joining it against the table. Without the
    * alignment, a delta whose upstream aggregation landed at
    * spark.sql.shuffle.partitions drags the join to that count — the
    * planner then shuffles the INDEX side to match and disables its
    * bucketed scan ("Bucketed: false (disabled by query planner)"),
    * i.e. an index-sized exchange per fold (the r16 ScaleProbe shuffle
    * meter caught exactly this on the gram-index fold). One extra
    * delta-sized exchange buys an index-size-flat join. */
  def aligned(df: DataFrame): DataFrame =
    df.repartition(nBuckets, bucketCols.map(df.col): _*)

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

  /** Rewrite the table through `merge` (dedup, re-aggregate, or plain
    * identity for file-count compaction). The read side is a bucketed
    * scan, so a merge keyed on the bucket columns aggregates
    * exchange-free — compaction stays per-bucket local however large
    * the state. Staged-swap discipline (maintainAggState): the merged
    * copy lands beside the live dir, one rename pair swaps it in, a
    * crash leaves the old state readable. */
  def compact(spark: SparkSession)(merge: DataFrame => DataFrame): Unit =
    ensure(spark).foreach { t =>
      val merged = merge(spark.table(t))
      val nonce = s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
      val stage = s"${t}_stage"
      val tmp = new java.io.File(path + s".maintain_$nonce")
      spark.sql(s"DROP TABLE IF EXISTS $stage")
      merged.write.format("parquet")
        .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .option("path", tmp.getAbsolutePath)
        .saveAsTable(stage)
      spark.sql(s"DROP TABLE $stage") // external: the staged files survive
      Writers.swapIn(new java.io.File(path), tmp,
        new java.io.File(path + s".old_$nonce"))
      spark.catalog.refreshTable(t)
    }

  /** The ONE maintenance policy for every BucketedState consumer (r12
    * verdict task #8 — dedup index, IVF postings, and LM model each
    * hand-rolled compaction cadence; a long-running loop needs a single
    * knob): compact through `merge` iff the committed file count
    * exceeds `maxFileSetsPerBucket` files per bucket. Each fold appends
    * roughly one file set per bucket, so the threshold reads as "at
    * most N folds of debris before a rewrite"; between rewrites, scans
    * pay at most N× the file-open overhead of the compacted form.
    * Returns whether a compaction ran. Serialize with folds — same
    * SINGLE-WRITER rule as [[compact]]. */
  def maintain(spark: SparkSession,
               maxFileSetsPerBucket: Int = BucketedState.DefaultMaxFileSetsPerBucket)
              (merge: DataFrame => DataFrame): Boolean = {
    val over = committedFileCount > nBuckets.toLong * maxFileSetsPerBucket
    if (over) compact(spark)(merge)
    over
  }

  /** Count of committed data files at the path (the maintain trigger). */
  private[graft] def committedFileCount: Long = {
    def rec(f: java.io.File): Long = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      kids.count(k => k.isFile && k.getName.endsWith(".parquet")
        && !k.getName.startsWith(".") && !k.getName.startsWith("_")).toLong +
        kids.filter(k => k.isDirectory && k.getName != "_temporary").map(rec).sum
    }
    rec(new java.io.File(path))
  }

  /** True iff the path holds COMMITTED parquet data — files under an
    * in-flight append's _temporary staging don't count (the
    * upsertSinkBatch bare-directory lesson). Derived from
    * [[committedFileCount]] so the two callers (ensure, maintain) share
    * ONE definition of "committed file" (r13 review: the hand-copied
    * walk could drift). The full count instead of an early-exit exists
    * is microseconds at any plausible file count. */
  private def hasCommittedData: Boolean = committedFileCount > 0
}

object BucketedState {
  /** Default file-sets-per-bucket tolerance before [[BucketedState
    * .maintain]] rewrites: 4 bounds scan overhead at ~4× the compacted
    * file count while amortizing the rewrite over ~4 folds. */
  val DefaultMaxFileSetsPerBucket = 4
}
