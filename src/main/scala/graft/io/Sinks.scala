package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Dataset sinks — the reference's ETLDataset add/update (K2).
  *
  * ETLDataset appends a batch as the next `<n>.json` part under a prefix,
  * or `update` replaces everything with part 0 after clearing the prefix
  * (/root/reference/bert/etl/__init__.py:133-164, 86-117). Spark-native:
  * a parquet table directory; `append` adds part files, `overwrite`
  * replaces the directory atomically (commit-protocol rename, not
  * clear-then-write, so readers never see a half-cleared prefix — an
  * upgrade over the reference's delete-then-put window).
  *
  * `appendDedup` is add+state in one: the reference pairs every dataset
  * append with an ETLState update so re-submitted values are dropped
  * (bert/etl/__init__.py:133-147). Here the "state" IS the sink table —
  * an anti-join against current contents keyed by `keyCols` — so there is
  * no second store to drift out of sync.
  */
object Sinks {

  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** JSON-lines parts — the reference's actual wire format for ETLDataset
    * (`<prefix>/<n>.json`); parquet is the default because columnar wins
    * at scale, but interop with a JSON consumer stays one call.
    */
  def appendJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).json(path)

  def appendCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Append).option("header", header.toString).csv(path)

  /** Append only rows whose key is not already present in the sink.
    * Returns the number of rows actually appended.
    * Scale: the anti-join shuffles on the key; with a partitioned sink the
    * read side prunes to touched partitions. Not transactional across
    * concurrent writers (the reference's S3 state object wasn't either) —
    * single-writer per table, like every hive-style parquet sink.
    */
  def appendDedup(spark: SparkSession, df: DataFrame, path: String, keyCols: Seq[String]): Long = {
    val fresh =
      if (exists(spark, path)) {
        val existing = spark.read.parquet(path)
          .select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct()
        df.join(existing, keyCols, "left_anti")
      } else df
    graft.ops.Lineage.pinned(fresh) { toWrite =>
      val n = toWrite.count()
      if (n > 0) toWrite.write.mode(SaveMode.Append).parquet(path)
      n
    }
  }

  /** Partitioned append for scale: hive-style partition columns give
    * partition pruning to every downstream reader. */
  def appendPartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionCols: _*).parquet(path)

  /** JDBC sink — the write half of the reference's Postgres datasource
    * (bert/datasource.py:50-84 only reads; real pipelines also publish
    * results back to the warehouse). Batched inserts per partition via
    * Spark's JDBC writer; `numPartitions` caps concurrent connections so
    * a 1000-executor job doesn't open 1000 sessions against the database.
    */
  def jdbc(df: DataFrame, url: String, table: String,
           mode: SaveMode = SaveMode.Append, numPartitions: Int = 8,
           batchSize: Int = 1000): Unit =
    // repartition (a shuffle barrier), NOT coalesce: coalesce would cap the
    // parallelism of every upstream stage at numPartitions, throttling the
    // whole job to the connection budget instead of just the write.
    df.repartition(numPartitions).write.mode(mode)
      .option("batchsize", batchSize)
      .jdbc(url, table, new java.util.Properties())

  /** Small-file compaction — the standing maintenance job of every
    * append-mode parquet table: streaming micro-batches and frequent
    * appends leave thousands of KB-sized part files, and at 100 TB the
    * per-file open/footer cost comes to dominate scans. Rewrites the table
    * to ⌈bytes/targetFileBytes⌉ part files in a temp directory, then swaps
    * it in with delete + rename (metadata-only — the no-table window is a
    * rename, not a rewrite job, and the temp copy holds every byte until
    * the swap; a crashed run leaves the original table untouched).
    * Flat tables only — hive-partitioned layouts are rejected rather than
    * silently flattened. Returns (filesBefore, filesAfter). Single-writer
    * per table, like every sink here.
    */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L << 20): (Int, Int) = {
    require(targetFileBytes > 0)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0, 0) // appends pending — nothing to do
    // hive-partitioned layouts (k=.../part-...) would be silently
    // FLATTENED (the partition column becomes data, pruning is lost) —
    // reject them; compaction of a partitioned table is per-partition
    require(!fs.listStatus(p).exists(st =>
        st.isDirectory && st.getPath.getName.contains("=")),
      s"$path is hive-partitioned; compact each partition directory instead")
    def parts = fs.listStatus(p).count(_.getPath.getName.startsWith("part-"))
    val before = parts
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    // write the compacted copy to a temp dir (reading and overwriting the
    // same files in one plan would delete the source under its own scan),
    // then swap it in with delete + rename: metadata-only, so the window
    // with no complete table is a directory rename, not a full rewrite job
    // — and the temp copy holds all bytes until the swap
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}_compact_tmp")
    fs.delete(tmp, true) // stale copy from a crashed earlier run
    spark.read.parquet(path).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(p, true)
    require(fs.rename(tmp, p), s"rename $tmp -> $p failed")
    (before, parts)
  }

  /** MERGE-shape upsert: apply `updates` to the keyed parquet table at
    * `path` — matched keys take the update row (UPDATE), unmatched update
    * keys append (INSERT), everything else carries over. The batch-CDC
    * companion to [[appendDedup]] (which only inserts-if-absent) and to
    * q_snapshot_diff (which classifies but does not apply).
    *
    * Same crash posture as [[compact]]: the merged copy is written to a
    * temp dir first, then swapped in with delete + rename — a crashed run
    * leaves the original table untouched; the no-table window is a rename.
    * Updates must be unique per key (asserted — a duplicate-key update
    * would nondeterministically pick a winner).
    *
    * Scale: one anti-join (table minus updated keys) + union — shuffles
    * only on the key, no row multiplication; with bucketed layouts
    * ([[Bucketing]]) the anti-join is exchange-free. Returns
    * (rows updated, rows inserted).
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
             keyCols: Seq[String]): (Long, Long) = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val dupKeys = updates.groupBy(keyCols.map(col): _*).count().filter(col("count") > 1)
    require(dupKeys.isEmpty, s"updates carry duplicate keys on ${keyCols.mkString(",")}")
    if (!exists(spark, path)) {
      updates.write.mode(SaveMode.Overwrite).parquet(path)
      return (0L, updates.count())
    }
    val current = spark.read.parquet(path)
    require(current.columns.sorted.sameElements(updates.columns.sorted),
      s"schema mismatch: table has ${current.columns.toSeq}, updates have ${updates.columns.toSeq}")
    val matched = current.join(updates.select(keyCols.map(col): _*), keyCols, "left_semi").count()
    val kept = current.join(updates.select(keyCols.map(col): _*), keyCols, "left_anti")
    val merged = kept.unionByName(updates.select(current.columns.map(col): _*))
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}_upsert_tmp")
    fs.delete(tmp, true)
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(p, true)
    require(fs.rename(tmp, p), s"rename $tmp -> $p failed")
    (matched, updates.count() - matched)
  }

  /** Queue flush (C4): the reference's `flushdb` / destroy-and-recreate
    * flags (bert/utils.py:344-358) — here, dropping a checkpoint or sink
    * directory. Returns true if anything was deleted.
    */
  def clear(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.delete(p, true)
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
