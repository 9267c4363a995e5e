package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search over an embedding column — the
  * scale path beside the exact scan (queries.SimilarityQueries.qCosineTopk).
  *
  * IVF (inverted-file) structure:
  *  1. coarse-quantize the corpus into cells — either pre-assigned cell
  *     ids (the testdata ships cluster labels) or, for the real unlabeled
  *     case, cells TRAINED by [[fit]] (Lloyd iterations over the same
  *     centroid aggregates; gated by q_ann_trained)
  *  2. a query probes only the `nprobe` nearest cells, then scores
  *     exact cosine within them.
  *
  * Scale: the corpus is partitioned by cell; a query touches
  * nprobe/#cells of the data. Centroids are tiny (#cells × dim) and
  * broadcast. All arithmetic is codegen'd higher-order functions — no UDFs.
  * Recall is tunable via nprobe (nprobe = #cells degenerates to the exact
  * scan); AnnSpec asserts recall against the brute-force oracle.
  *
  * Input contract: vectors must pass [[Validate.embeddingVerdict]] —
  * the exact-decimal kernels are unevaluable on non-finite components and
  * zero-norm vectors divide by zero inside every cosine
  * (q_hostile_embedding pins both engines' behavior). The screen is now
  * WIRED IN: pass `screenDim = Some(dim)` to [[ivfTopK]]/[[bruteTopK]]
  * and both sides are filtered to verdict-'ok' rows BEFORE any kernel or
  * centroid sees them (a NaN corpus vector would otherwise poison its
  * cell centroid, not just its own scores). The driver's embeddings
  * tables are clean by construction, so the clean-corpus registry queries
  * run unscreened; an untrusted ingest sets screenDim
  * (q_ann_screened gates the screened path over hostile ∪ real vectors).
  */
object Ann {

  /** A trained IVF coarse quantizer: `assigned` = the corpus plus an int
    * `cell` column (nearest trained centroid), `centroids` = the trained
    * k×dim table (cell, centroid: array<double>) — O(k) rows, broadcastable.
    * `nCells` = the number of cells, carried so [[writeIndex]] sizes its
    * layout without a Spark job: the centroid count for a [[fit]] model,
    * the stored cell directories for a [[readIndex]] one.
    */
  final case class IvfModel(assigned: DataFrame, centroids: DataFrame, nCells: Long)

  /** Train IVF cells from an UNLABELED corpus — the production path the
    * [[centroids]] scaladoc promised ("a production build would
    * Lloyd-iterate the same aggregates"): a real 100 TB embedding table has
    * no label column, so the coarse quantizer must be LEARNED.
    *
    * `iters` Lloyd rounds (Lloyd 1982), each = one assignment pass + (for
    * all but the last round) one centroid update:
    *  - init: centroids = the embeddings of the k LOWEST ids (the
    *    q_kmeans_step seeding — deterministic, oracle-replicable; ORDER BY
    *    id LIMIT k is a TakeOrderedAndProject, no global sort materialized);
    *  - assignment is a NARROW map — the k×dim centroid matrix rides along
    *    as a literal (k·dim doubles, a few KB — far below the folded-literal
    *    plan-cost class Lineage.truncate exists for), each row computes its
    *    k squared distances via the codegen'd decimal_sqdist kernel
    *    (exactArith) or a double HOF fold, and argmins in-expression
    *    (array_position of array_min = first minimum = lowest cell id, the
    *    q_kmeans_step (dist, cid) tie-break). ZERO shuffle per assignment.
    *  - update: per-(cell, dim) mean — posexplode + groupBy, map-side
    *    combinable to k·dim rows per partition; only the k·dim result
    *    touches the driver per round (the qCoreset/qBpeMerges control-plane
    *    discipline: state is O(k·dim) numbers, never data). exactArith
    *    accumulates each dim in DECIMAL(28,14) (Exact.dMean14) so every
    *    round — and therefore the final assignment — is bit-reproducible by
    *    a SQL oracle; the default double avg is the production kernel.
    *
    * A cell whose membership becomes empty is DROPPED (k shrinks) — the
    * standard Lloyd degeneracy, chosen over respawn heuristics because it
    * is deterministic and oracle-replicable (an empty cell simply has no
    * mean row on either engine).
    *
    * Scale: iters sequential corpus scans (inherent to Lloyd — each round
    * depends on the previous), each a narrow map + a tiny-key aggregate;
    * at 100 TB the standard mitigation is to fit on a uniform sample
    * (Lloyd centroids are means — sampling error is O(1/√s)) and run only
    * the final assignment over the full corpus; this method composes that
    * way directly: fit(sample, …).centroids → assign full corpus.
    *
    * `screenDim` applies [[Validate.embeddingVerdict]] BEFORE the seed
    * selection — one hostile NaN vector among the k lowest ids would
    * otherwise poison a seed centroid exactly like the unscreened-centroid
    * hazard q_ann_screened pins.
    */
  def fit(corpus: DataFrame, k: Int, iters: Int,
          idCol: String = "vec_id", embCol: String = "embedding",
          cellCol: String = "cell", exactArith: Boolean = false,
          screenDim: Option[Int] = None): IvfModel = {
    require(k > 0, "fit needs k > 0 cells")
    require(iters > 0, "fit needs at least one Lloyd round")
    val spark = corpus.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val c = screenDim match {
      case Some(d) => corpus.filter(Validate.embeddingVerdict(spark, embCol, d) === "ok")
      case None => corpus
    }
    // deterministic seeds: the k lowest-id embeddings, cell ids 0..k-1 in
    // id order. O(k·dim) driver bytes — control plane, not data.
    var cells: Seq[Int] = 0 until k
    var cents: Seq[Seq[Double]] =
      c.select(col(idCol), col(embCol)).orderBy(col(idCol)).limit(k).collect()
        .map(_.getSeq[Number](1).map(_.doubleValue()).toSeq).toSeq
    require(cents.size == k, s"fit(k=$k) needs k corpus rows, got ${cents.size}")

    // one narrow assignment pass under the current literal centroids
    def assigned(): DataFrame =
      c.withColumn(cellCol, assignExpr(embCol, cells, cents, exactArith))

    for (_ <- 1 until iters) {
      val mean =
        if (exactArith) graft.queries.Exact.dMean14(col("v")).as("cv")
        else avg(col("v")).as("cv")
      val rows = assigned()
        .select(col(cellCol), posexplode(col(embCol)).as(Seq("dim", "v")))
        .groupBy(col(cellCol), col("dim")).agg(mean)
        .collect()
      val byCell = rows.groupBy(_.getInt(0)).map { case (cell, rs) =>
        cell -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
      }
      cells = byCell.keys.toSeq.sorted
      cents = cells.map(byCell)
    }
    val centTable = spark.createDataFrame(
      spark.sparkContext.parallelize(cells.zip(cents).map { case (cl, ce) =>
        org.apache.spark.sql.Row(cl, ce)
      }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false),
          nullable = false))))
    IvfModel(assigned(), centTable, cells.size)
  }

  /** Persist a trained IVF index as the thing that makes IVF pay at
    * 100 TB: the assigned corpus written PARTITIONED BY cell (plus the
    * k-row centroid table beside it), so a probe join reads only the
    * nprobe/k of the data it scores. With the corpus laid out by cell,
    * Spark's dynamic partition pruning turns [[ivfTopK]]'s broadcast
    * probe join into a partition-pruned scan — the broadcast probe set's
    * cell ids become a runtime partition filter on the corpus read
    * (AnnSpec pins `dynamicpruning` in the index scan, and the gate
    * q_ann_index hash-matches q_ann_trained's oracle through the full
    * write → read-back → probe path). Without the layout, every probe
    * scans the whole corpus and IVF only saves kernel evaluations.
    */
  def writeIndex(model: IvfModel, path: String, cellCol: String = "cell"): Unit = {
    clusterForWrite(model.assigned, cellCol, model.nCells)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy(cellCol).parquet(s"$path/corpus")
    model.centroids.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/centroids")
  }

  /** Cluster an assigned corpus by cell before a `partitionBy(cellCol)`
    * write (r16, guide §6 output file sizing + §2.2 fewer files): without
    * it every one of the input's partitions writes its own file into
    * every cell directory — width × k files per write (the r16 probe
    * measured 32-partition inputs writing ~128 ~6 KB files per
    * writeIndex/append, and every later probe paying ~128 opens), and at
    * streaming-ingest cadence that IS the small-file problem compactIndex
    * exists to clean up. One hash repartition keyed on (cell, slice)
    * leaves each cell's rows in `slices` partitions: file count becomes
    * ~k × slices, independent of the producer's width.
    *
    * `slices` is derived from the DATA (Catalyst size estimate /
    * `targetFileBytes` per cell), not a constant: bench-scale cells
    * collapse to one file each, while a 100 TB cell keeps enough
    * splittable files that a probed-cell scan still parallelizes —
    * exactly the compactIndex scaladoc's warning against single-file hot
    * cells, applied at write time. The slice key is a deterministic hash
    * of the payload columns (guide §2.5: retry-safe synthetic keys — no
    * rand()), so a retried map task reproduces its partition assignment.
    */
  private def clusterForWrite(assigned: DataFrame, cellCol: String, nCells: Long,
                              targetFileBytes: Long = 64L << 20): DataFrame = {
    val maxP = assigned.sparkSession.sessionState.conf.numShufflePartitions.toLong
    val est = assigned.queryExecution.optimizedPlan.stats.sizeInBytes
    val perCell = est / math.max(1L, nCells)
    val slices = (perCell / targetFileBytes + 1).min(BigInt(maxP)).toInt
    val width = math.max(1L, math.min(maxP, nCells * slices)).toInt
    // a producer of P partitions writes up to P files per cell, clustering
    // leaves `slices` per cell: only a producer no wider than that (a
    // staged single-file micro-batch) writes as few files as-is, and a
    // clustering shuffle would add a stage for nothing
    if (assigned.rdd.getNumPartitions <= slices) assigned
    else if (slices <= 1) assigned.repartition(width, col(cellCol))
    else {
      val payload = assigned.columns.filterNot(_ == cellCol).map(col).toSeq
      assigned.repartition(width, col(cellCol),
        pmod(xxhash64(payload: _*), lit(slices)))
    }
  }

  /** Read back a persisted IVF index. `assigned`'s `cell` column is the
    * partition key — filters and probe joins on it prune to the matching
    * cell directories. Resolves [[currentRoot]] first, so a
    * [[replaceIndex]]-managed index serves its newest COMPLETE version. */
  def readIndex(spark: SparkSession, path: String): IvfModel = {
    val root = currentRoot(spark, path)
    val corpus = new org.apache.hadoop.fs.Path(s"$root/corpus")
    val fs = corpus.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cellDirs = fs.listStatus(corpus).count(st => st.isDirectory && st.getPath.getName.contains("="))
    IvfModel(graft.Tables.read(spark, corpus.toString),
      graft.Tables.read(spark, s"$root/centroids"), cellDirs)
  }

  /** The current data root of an index at `path`. A [[replaceIndex]]-managed
    * index holds immutable versions `v1, v2, …`, each stamped with a
    * `_complete` marker AFTER its corpus+centroids are fully written;
    * current = the highest complete version. A flat ([[writeIndex]]-laid)
    * index resolves to itself. Marker-gated resolution is what makes the
    * replace swap crash-safe WITHOUT a pointer file: a version that crashed
    * mid-write has no marker and is invisible, and there is no
    * delete-then-rename pointer window in which readers see nothing —
    * every reader deterministically lands on the newest version whose
    * write certifiably finished.
    */
  def currentRoot(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) path
    else {
      val versions = fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
        .filter(st => fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_complete")))
        .map(_.getPath.getName.drop(1).toLong)
      if (versions.isEmpty) path else s"$path/v${versions.max}"
    }
  }

  /** Atomically REPLACE an index with a freshly trained model — the
    * re-fit-on-drift path ([[recallDrift]] measures when) and the analog of
    * the reference's replace-all ETLDataset.update
    * (/root/reference/bert/etl/__init__.py:133-164), which rewrites the
    * whole dataset object rather than mutating in place. The new
    * generation is fully written BEFORE it becomes current, and the old
    * generation is retained (for in-flight readers / rollback) until
    * [[pruneIndexVersions]].
    *
    * Mechanics: the model lands under `path/v<N+1>/` and a `_complete`
    * marker is created LAST; [[currentRoot]] resolves to the highest
    * complete version, so the single marker create IS the atomic commit —
    * a crash at any earlier point leaves an unmarked (invisible) version
    * dir that the next replace simply supersedes. A pre-existing flat
    * layout at the root is shadowed, not deleted. Single writer per index,
    * as everywhere on this path-based layout. Returns the new root.
    */
  def replaceIndex(spark: SparkSession, model: IvfModel, path: String,
                   cellCol: String = "cell"): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    val prevRoot = currentRoot(spark, path)
    val existing = fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
    val next = (existing :+ 0L).max + 1
    val vroot = s"$path/v$next"
    writeIndex(model, vroot, cellCol)
    // CARRY the ingest ledger into the new generation BEFORE it becomes
    // current: replace's contract is a re-fit of the index's OWN current
    // corpus, so every ledgered batch's rows are inside `model` — without
    // the carried markers, a stream restart re-offering a batch that
    // published but never checkpoint-committed would find no ledger in
    // the new generation and publish its rows a SECOND time (they are
    // already in the rebuilt corpus). A model built from some OTHER
    // corpus needs a fresh path, not a replace.
    val prevLedger = new org.apache.hadoop.fs.Path(s"$prevRoot/corpus/_graft_ingest")
    if (fs.exists(prevLedger)) {
      val dstLedger = new org.apache.hadoop.fs.Path(s"$vroot/corpus/_graft_ingest")
      fs.mkdirs(dstLedger)
      fs.listStatus(prevLedger).foreach { st =>
        fs.create(new org.apache.hadoop.fs.Path(dstLedger, st.getPath.getName), true).close()
      }
    }
    val marker = new org.apache.hadoop.fs.Path(vroot, "_complete")
    fs.create(marker, true).close()
    vroot
  }

  /** Delete superseded index versions, keeping the newest `keep` complete
    * ones (default: current only) plus any incomplete dirs newer than the
    * current version (a replace may be mid-write). Also removes a flat
    * root layout once a complete version shadows it. Run when no reader
    * still holds the old generation — same single-writer caveat as every
    * mutation of this path-based layout.
    */
  def pruneIndexVersions(spark: SparkSession, path: String, keep: Int = 1): Unit = {
    require(keep >= 1, "pruneIndexVersions must keep at least the current version")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val complete = fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .filter(st => fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_complete")))
      .sortBy(_.getPath.getName.drop(1).toLong)
    if (complete.isEmpty) return
    complete.dropRight(keep).foreach(st => fs.delete(st.getPath, true))
    // flat leftovers are shadowed by any complete version — reclaim them
    Seq("corpus", "centroids").foreach { d =>
      val flat = new org.apache.hadoop.fs.Path(p, d)
      if (fs.exists(flat)) fs.delete(flat, true)
    }
  }

  /** Incremental ingest for a growing corpus — the reason the index keeps
    * its centroids beside the data: new rows are [[assign]]ed under the
    * STORED centroids (one narrow pass, no retraining, no touch of the
    * existing data) and appended into the matching cell directories.
    * Equivalent by construction to rebuilding the corpus layout from
    * scratch under the same centroids (AnnSpec pins append-then-serve ≡
    * rebuild-then-serve). Centroids drift as the corpus grows — the
    * standard maintenance trade; re-[[fit]] (on a sample) and rewrite
    * when recall degrades. Append atomicity is parquet's usual
    * task-commit story; concurrent appends to one index need an external
    * writer lock, same as any path-based table without a transaction log.
    *
    * `screenDim` matters MORE here than on any query path: a query-time
    * hostile vector poisons one result set, but an appended one is
    * PERSISTED — its all-NaN distances land it deterministically in a
    * cell, and every later probe of that cell scores it cosine = NaN,
    * which `desc` ordering ranks ABOVE every real neighbor, forever. An
    * index built from screened data should screen its ingest too.
    */
  def appendToIndex(spark: SparkSession, newRows: DataFrame, path: String,
                    embCol: String = "embedding", cellCol: String = "cell",
                    exactArith: Boolean = false,
                    screenDim: Option[Int] = None): Unit = {
    val root = currentRoot(spark, path)
    // read the centroids from the SAME resolved root the write targets —
    // resolving twice (via readIndex) could straddle a concurrent replace
    // and pair new centroids with the old generation's corpus
    val cents = centroidRows(graft.Tables.read(spark, s"$root/centroids"))
    val rows = screenDim match {
      case Some(d) => newRows.filter(Validate.embeddingVerdict(spark, embCol, d) === "ok")
      case None => newRows
    }
    clusterForWrite(assignTo(rows, cents, embCol, cellCol, exactArith), cellCol, cents.size)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy(cellCol).parquet(s"$root/corpus")
  }

  /** Idempotently ingest ONE micro-batch into a persisted index — the unit
    * [[streamIngest]] drives from `foreachBatch`, exposed for batch callers
    * that manage their own batch ids. Returns true when the batch was
    * published by THIS call, false when the ledger shows it already
    * committed (a replay).
    *
    * Exactly-once contract (the append-vs-checkpoint boundary, pinned in
    * AnnSpec): Structured Streaming's checkpoint commits a batch only
    * AFTER `foreachBatch` returns, so any crash makes the engine re-offer
    * the same rows under the SAME deterministic `batchId`. Idempotence is
    * layered so every crash point converges:
    *   1. a ledger marker (`corpus/_graft_ingest/b<id>`, created LAST) is
    *      the batch's commit record — a replay of a fully-published batch
    *      is a metadata no-op;
    *   2. the batch is first staged under `_staging/b<id>` (Overwrite mode
    *      — a retried partial staging is replaced wholesale, and
    *      underscore dirs are invisible to readers);
    *   3. publishing renames staged parts to DETERMINISTIC destination
    *      names (`ingest-b<id>-p<seq>.parquet`) after wiping any
    *      `ingest-b<id>-*` leftovers — so a crash mid-publish (some files
    *      moved, no ledger) re-runs as wipe + full re-publish instead of
    *      accumulating duplicates.
    * The one external requirement is the layout's usual one: a single
    * writer per index (no concurrent ingest/compaction) — parquet dirs
    * without a transaction log cannot arbitrate writers.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, batchId: Long, path: String,
                  embCol: String = "embedding", cellCol: String = "cell",
                  exactArith: Boolean = false,
                  screenDim: Option[Int] = None): Boolean = {
    val root = currentRoot(spark, path)
    val corpusDir = new org.apache.hadoop.fs.Path(s"$root/corpus")
    val fs = corpusDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledger = new org.apache.hadoop.fs.Path(corpusDir, s"_graft_ingest/b$batchId")
    val staging = new org.apache.hadoop.fs.Path(s"$root/_staging/b$batchId")
    if (fs.exists(ledger)) {
      // committed replay: nothing to publish; reclaim a staging dir a
      // crash may have stranded between ledger write and cleanup
      fs.delete(staging, true)
      return false
    }
    val cents = centroidRows(graft.Tables.read(spark, s"$root/centroids"))
    val rows = screenDim match {
      case Some(d) => batch.filter(Validate.embeddingVerdict(spark, embCol, d) === "ok")
      case None => batch
    }
    clusterForWrite(assignTo(rows, cents, embCol, cellCol, exactArith), cellCol, cents.size)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy(cellCol).parquet(staging.toString)
    // wipe a previous attempt's partial publish of THIS batch, then move
    // staged parts to their deterministic destinations
    val stale = Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(corpusDir, s"$cellCol=*/ingest-b$batchId-*")))
      .getOrElse(Array.empty)
    stale.foreach(st => fs.delete(st.getPath, false))
    val cellDirs = Option(fs.listStatus(staging)).getOrElse(Array.empty)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$cellCol="))
    cellDirs.foreach { cd =>
      val parts = fs.listStatus(cd.getPath).map(_.getPath)
        .filter(q => !q.getName.startsWith("_") && !q.getName.startsWith("."))
        .sortBy(_.getName)
      val dstDir = new org.apache.hadoop.fs.Path(corpusDir, cd.getPath.getName)
      fs.mkdirs(dstDir)
      parts.zipWithIndex.foreach { case (src, i) =>
        val dst = new org.apache.hadoop.fs.Path(dstDir, f"ingest-b$batchId-p$i%05d.parquet")
        require(fs.rename(src, dst), s"ingestBatch: rename $src -> $dst failed")
      }
    }
    // ledger marker LAST: the batch is committed iff this file exists
    fs.mkdirs(ledger.getParent)
    fs.create(ledger, true).close()
    fs.delete(staging, true)
    true
  }

  /** Streaming ingest into a persisted IVF index — the composition of the
    * engine's two headline subsystems (the reference's core premise is
    * stream-driven dataflow: DynamoDB Streams → Lambda binding,
    * /root/reference/bert/deploy/utils.py:881-901). Each micro-batch is
    * assigned under the STORED centroids and published into the
    * cell-partitioned layout via [[ingestBatch]], whose ledger +
    * deterministic-name publish makes the whole pipeline exactly-once
    * across restarts (see its scaladoc for the crash-point analysis;
    * q_stream_ann_ingest hash-gates a 3-batch drain against a
    * batch-rebuild oracle, and AnnSpec pins the restart/replay cases).
    *
    * `screenDim` should be set for any untrusted stream: an unscreened
    * hostile vector would be PERSISTED into a cell and outrank every real
    * neighbor forever (see [[appendToIndex]]). Centroids are read once per
    * micro-batch (k rows — control plane). Default trigger is
    * AvailableNow (drain-what-exists, then stop — the staged-gate shape);
    * pass ProcessingTime for a long-lived ingester.
    */
  def streamIngest(stream: DataFrame, path: String, checkpoint: String,
                   embCol: String = "embedding", cellCol: String = "cell",
                   exactArith: Boolean = false, screenDim: Option[Int] = None,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ingestBatch(batch.sparkSession, batch.toDF(), batchId, path,
          embCol, cellCol, exactArith, screenDim)
        ()
      }
      .start()

  final case class CompactStats(cellsCompacted: Int, filesBefore: Int, filesAfter: Int)

  /** Rewrite fragmented cell directories to `targetFileBytes`-sized files —
    * the maintenance pass that keeps streaming ingest from becoming the
    * small-file problem at 100 TB cadence: every [[ingestBatch]] adds one
    * file set per touched cell, so after N batches a hot cell holds O(N)
    * small files and every probe pays O(N) opens for it. Only cells whose
    * file count exceeds TWICE their target count are rewritten (hysteresis
    * — at scale that's the handful of hot cells, never the whole index),
    * with a narrow `coalesce` — no shuffle.
    *
    * The target is BYTES, not a file count, because both extremes hurt:
    * many small files pay per-file open/list cost, while "one file per
    * cell" serializes the probe scan — a cell collapsed to a single file
    * smaller than `maxPartitionBytes` is read by ONE task, and the 100×
    * probe measured exactly that (serve 40.8 s over 2 single-file probed
    * cells vs ~13 s over the fragmented layout). Size the target so a hot
    * cell keeps at least a few files per executor that probes it.
    *
    * Crash-safety per cell: the compacted replacement is fully written
    * under `_compact/` first, then swapped in as rename(live → dot-prefixed
    * `.old`, invisible to readers) + rename(compacted → live) + delete.
    * A crash between the renames leaves the cell dark until the next
    * compactIndex call, whose opening HEAL pass renames any orphaned
    * `.old` back into place; serving results are bit-identical before and
    * after (AnnSpec). Two preconditions, both the layout's standing ones:
    * single writer (no concurrent ingest), and no reader mid-query during
    * the swap — a log-less parquet dir cannot give cross-file snapshot
    * isolation (an ACID table format is the upgrade path).
    *
    * In-flight ingest debris: data files named `ingest-b<id>-*` whose
    * batch has NO ledger marker belong to an uncommitted batch — the
    * stream's checkpoint WILL re-offer that batch, and its retry wipes and
    * re-publishes those names. Folding them into a compacted file first
    * would turn the retry into duplication, so compaction deletes them
    * up front (exactly the wipe the retry would perform).
    */
  def compactIndex(spark: SparkSession, path: String,
                   targetFileBytes: Long = 64L << 20,
                   cellCol: String = "cell"): CompactStats = {
    require(targetFileBytes >= 1L, "compactIndex needs targetFileBytes >= 1")
    val root = currentRoot(spark, path)
    val corpusDir = new org.apache.hadoop.fs.Path(s"$root/corpus")
    val fs = corpusDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldSuffix = ".graft_old"
    def cellDirs() = Option(fs.listStatus(corpusDir)).getOrElse(Array.empty)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$cellCol="))
    // HEAL: a crash between the two swap renames leaves `.cell=N.graft_old`
    // with no live twin — restore it before anything else reads the layout
    Option(fs.listStatus(corpusDir)).getOrElse(Array.empty)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(".") &&
        st.getPath.getName.endsWith(oldSuffix))
      .foreach { st =>
        val liveName = st.getPath.getName.stripPrefix(".").stripSuffix(oldSuffix)
        val live = new org.apache.hadoop.fs.Path(corpusDir, liveName)
        if (!fs.exists(live)) require(fs.rename(st.getPath, live),
          s"compactIndex: heal rename ${st.getPath} -> $live failed")
        else fs.delete(st.getPath, true)
      }
    // drop uncommitted ingest debris (no ledger ⇒ the batch will be retried
    // and re-published under these exact names — see scaladoc)
    val ledgerDir = new org.apache.hadoop.fs.Path(corpusDir, "_graft_ingest")
    val ingestName = "ingest-b(\\d+)-.*".r
    cellDirs().foreach { cd =>
      fs.listStatus(cd.getPath).foreach { st =>
        st.getPath.getName match {
          case ingestName(bid) =>
            if (!fs.exists(new org.apache.hadoop.fs.Path(ledgerDir, s"b$bid")))
              fs.delete(st.getPath, false)
          case _ => ()
        }
      }
    }
    def dataFiles(cd: org.apache.hadoop.fs.Path) =
      fs.listStatus(cd)
        .filter(q => !q.getPath.getName.startsWith("_") && !q.getPath.getName.startsWith("."))
    val before = cellDirs().map { cd =>
      val files = dataFiles(cd.getPath)
      cd.getPath.getName -> (files.length, files.map(_.getLen).sum)
    }.toMap
    // target count from bytes; rewrite only when fragmentation exceeds 2×
    // the target (hysteresis — re-running compaction on an already-compact
    // index is a metadata-only no-op)
    val candidates = before.toSeq.collect {
      case (cellName, (n, bytes))
          if n > 2 * math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes) =>
        cellName -> math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    }
    // cells are independent (disjoint dirs, disjoint rename pairs), so the
    // rewrites run CONCURRENTLY on a bounded pool — Spark schedules the
    // per-cell read+write jobs together instead of paying one serial job
    // latency per hot cell. A failure propagates after the pool drains;
    // already-swapped cells stay swapped (compaction is incremental +
    // idempotent) and a crashed swap is the heal pass's case.
    if (candidates.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(8, candidates.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val work = candidates.map { case (cellName, outFiles) =>
          scala.concurrent.Future {
            val live = new org.apache.hadoop.fs.Path(corpusDir, cellName)
            val tmp = new org.apache.hadoop.fs.Path(s"$root/_compact/$cellName")
            // a leaf cell dir read returns the payload columns only (the
            // cell value lives in the dir name) — exactly what the
            // replacement files must hold
            spark.read.parquet(live.toString)
              .coalesce(outFiles)
              .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp.toString)
            // drop the _SUCCESS marker so the swapped-in dir holds data files only
            fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false)
            val old = new org.apache.hadoop.fs.Path(corpusDir, s".$cellName$oldSuffix")
            require(fs.rename(live, old), s"compactIndex: rename $live -> $old failed")
            require(fs.rename(tmp, live), s"compactIndex: rename $tmp -> $live failed")
            fs.delete(old, true)
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(work), scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }
    val compacted = candidates.size
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_compact"), true)
    val after = cellDirs().map(cd => dataFiles(cd.getPath).length).sum
    CompactStats(compacted, before.values.map(_._1).sum, after)
  }

  /** Stored-vs-refit recall@`k`: [[recallDrift]]'s return. `drift` > 0 means
    * a re-fit would recover that much recall — the measured re-fit trigger
    * the index maintenance story needs ("re-fit when recall degrades" is
    * unanswerable without this number). */
  final case class RecallDrift(recallStored: Double, recallRefit: Double) {
    def drift: Double = recallRefit - recallStored
  }

  /** Measure centroid drift of a persisted index: serve `queries` from the
    * STORED index and from a FRESH re-fit of the index's own current
    * corpus, score both against the exact brute-force ground truth over
    * that corpus, and return the two recall@k figures. Drift accumulates
    * as [[ingestBatch]]/[[appendToIndex]] grow the corpus under frozen
    * centroids (appended clusters straddle stale cell boundaries and a
    * probe misses the half across the line — AnnSpec plants exactly that);
    * when `drift` crosses the operator's threshold, re-[[fit]] and
    * [[replaceIndex]].
    *
    * Cost/scale: ground truth is a brute-force scan over the corpus PER
    * QUERY — pass a small probe sample (tens of queries), not production
    * traffic; `sampleMod` > 1 re-fits on the `idCol % sampleMod == 0`
    * uniform slice (the fit-on-sample composition [[fit]] documents).
    * Returns two scalars — control plane, not a data path.
    */
  def recallDrift(spark: SparkSession, path: String, queries: DataFrame,
                  refitK: Int, k: Int = 5, nprobe: Int = 2, refitIters: Int = 2,
                  sampleMod: Int = 1, qIdCol: String = "q_id",
                  idCol: String = "vec_id", embCol: String = "embedding",
                  cellCol: String = "cell", exactArith: Boolean = false): RecallDrift = {
    val stored = readIndex(spark, path)
    val corpus = stored.assigned.drop(cellCol)
    val servedStored = ivfTopK(spark, queries, stored.assigned, k, nprobe,
      qIdCol, idCol, embCol, cellCol, exactArith,
      storedCentroids = Some(stored.centroids))
    // hash-based 1/sampleMod selection, not id-modulo: structured ids
    // (sharded ranges, offset copies) alias with a modulo and silently
    // bias the re-fit sample toward one shard
    val sample =
      if (sampleMod <= 1) corpus
      else corpus.filter(pmod(xxhash64(col(idCol)), lit(sampleMod)) === 0)
    val refit = fit(sample, refitK, refitIters, idCol, embCol, cellCol, exactArith)
    val servedRefit = ivfTopK(spark, queries,
      assign(corpus, refit.centroids, embCol, cellCol, exactArith),
      k, nprobe, qIdCol, idCol, embCol, cellCol, exactArith,
      storedCentroids = Some(refit.centroids))
    // truth is read three times (one total + two semi-joins): pinned for
    // the two recall probes only
    Lineage.pinned(bruteTopK(queries, corpus, k, qIdCol, idCol, embCol)
        .select(col(qIdCol), col("neighbor"))) { truth =>
      def recall(served: DataFrame): Double = {
        val tot = truth.count()
        if (tot == 0L) 1.0
        else served.select(col(qIdCol), col("neighbor"))
          .join(truth, Seq(qIdCol, "neighbor"), "left_semi").count().toDouble / tot
      }
      RecallDrift(recall(servedStored), recall(servedRefit))
    }
  }

  /** Nearest-trained-cell for every corpus row — the second half of the
    * 100 TB composition [[fit]]'s scaladoc describes: fit on a uniform
    * SAMPLE (Lloyd centroids are means; sampling error is O(1/√s)), then
    * assign the FULL corpus in one narrow pass under the trained
    * centroids. `centroids` is an [[IvfModel.centroids]]-shaped table
    * (cell int, centroid array<double>) — O(k·dim), collected to the
    * driver as control plane and re-shipped as the same few-KB literal
    * the training rounds use, so assignment adds ZERO shuffle at any
    * corpus size. Same argmin algebra as [[fit]] (first-minimum =
    * (dist, cid) tie order): assigning the fit's own corpus under its
    * returned centroids reproduces `IvfModel.assigned` exactly (AnnSpec).
    */
  def assign(corpus: DataFrame, centroids: DataFrame,
             embCol: String = "embedding", cellCol: String = "cell",
             exactArith: Boolean = false): DataFrame =
    assignTo(corpus, centroidRows(centroids), embCol, cellCol, exactArith)

  /** A centroid table's (cell, centroid) rows on the driver, by cell id. */
  private def centroidRows(centroids: DataFrame): Seq[(Int, Seq[Double])] = {
    val rows = centroids.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).sortBy(_._1).toSeq
    require(rows.nonEmpty, "assign needs a nonempty centroid table")
    rows
  }

  /** [[assign]] under centroid rows already on the driver. */
  private def assignTo(corpus: DataFrame, rows: Seq[(Int, Seq[Double])],
                       embCol: String, cellCol: String, exactArith: Boolean): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    corpus.withColumn(cellCol, assignExpr(embCol, rows.map(_._1), rows.map(_._2), exactArith))
  }

  /** The narrow literal-centroid argmin shared by [[fit]] and [[assign]]:
    * dists[i] = sqdist(emb, cents[i]) — the codegen'd decimal_sqdist
    * kernel (exactArith) or a double HOF fold — and cell = cells[argmin],
    * where array_position-of-array_min takes the FIRST minimum = lowest
    * cell id, matching ROW_NUMBER ... ORDER BY dist, cid rn=1 in the
    * q_ann_trained oracle. cells/cents must be sorted by cell id.
    *
    * Dimensionality is ENFORCED per row (r14 advice): without the guard, a
    * null or wrong-length vector null-pads inside zip_with, every distance
    * comes out null, and the row gets a null cell — which [[appendToIndex]]
    * would silently PERSIST under the default partition, invisible to
    * probes yet counted in the corpus. A mismatched row now raises instead
    * (screened paths never trip it: `screenDim` filters wrong-dimension
    * rows to verdict != 'ok' before any kernel runs).
    */
  private def assignExpr(embCol: String, cells: Seq[Int], cents: Seq[Seq[Double]],
                         exactArith: Boolean): Column = {
    val dim = cents.head.size
    require(cents.forall(_.size == dim),
      s"assignExpr: centroid table mixes dimensions (${cents.map(_.size).distinct.sorted.mkString(", ")})")
    val centsLit = typedlit(cents)
    val dists =
      if (exactArith)
        transform(centsLit, ce => call_function("decimal_sqdist", col(embCol), ce))
      else
        transform(centsLit, ce => aggregate(
          zip_with(col(embCol), ce, (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, v) => acc + v))
    val cell = element_at(typedlit(cells), array_position(dists, array_min(dists)).cast("int"))
    when(size(col(embCol)) === dim, cell).otherwise(raise_error(concat(
      lit(s"Ann: embedding dimension mismatch — centroids are $dim-dimensional, row has "),
      coalesce(size(col(embCol)).cast("string"), lit("null")),
      lit(" components. Screen the input (screenDim) or fix the ingest; a silently " +
        "null-assigned row would be invisible to probes yet persisted in the corpus."))))
  }

  /** HOF cosine for mixed/double arrays (centroid comparisons — tiny
    * inputs, codegen irrelevant). The hot float×float corpus scan uses the
    * native codegen'd graft.functions.CosineSimilarity instead — same
    * arithmetic order, bit-identical results (FunctionsSpec).
    */
  private def cosineExpr(a: String, b: String) = expr(
    s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
       |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)
       | / (sqrt(aggregate($a, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |  * sqrt(aggregate($b, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin)

  /** Per-cell centroids: mean embedding per `cellCol` (elementwise —
    * aggregate each dimension). Returns (cell, centroid: array<double>).
    * `exactArith` accumulates each dimension in DECIMAL(28,14) before the
    * mean (order-independent across partitions AND engines — the same
    * algebra as queries.SimilarityQueries.qCentroids), so an oracle can
    * reproduce the centroids bit-for-bit; the default double `avg` is the
    * production path.
    */
  def centroids(corpus: DataFrame, cellCol: String, embCol: String,
                exactArith: Boolean = false): DataFrame = {
    val mean =
      if (exactArith) graft.queries.Exact.dMean14(col("v")).as("mean_v")
      else avg(col("v")).as("mean_v")
    corpus
      .select(col(cellCol).as("cell"), posexplode(col(embCol)).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(mean)
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(named_struct('d', dim, 'v', mean_v))), s -> s.v)")
        .as("centroid"))
  }

  /** Decimal-accumulated cosine rounded to 6 dp — identical value algebra
    * to queries.SimilarityQueries.qCosineTopk and its DuckDB oracle, so an
    * exact-arithmetic IVF run can be hash-compared across engines.
    */
  private def decimalCosineExpr(a: String, b: String) = expr(
    // the fused exact-decimal kernel (functions.DecimalDot): bit-identical
    // to the declarative aggregate(zip_with(...)) DECIMAL(28,14) fold
    // (FunctionsSpec pins this) without the interpreted lambda eval that
    // otherwise dominates an exact-arithmetic corpus scan
    s"""round(
       |  decimal_dot($a, $b)
       |  / (SQRT(decimal_dot($a, $a)) * SQRT(decimal_dot($b, $b))), 6)""".stripMargin)

  /** Top-k cosine neighbors per query, probing `nprobe` cells.
    * queries: (qIdCol, embCol); corpus: (idCol, embCol, cellCol).
    * `exactArith = true` scores with decimal accumulation and ranks on the
    * ROUNDED cosine (qCosineTopk's algebra) so a full-probe run is
    * bit-comparable to a brute-force SQL oracle; the default double path
    * is the faster production kernel.
    */
  def ivfTopK(
      spark: SparkSession,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 5,
      nprobe: Int = 2,
      qIdCol: String = "q_id",
      idCol: String = "vec_id",
      embCol: String = "embedding",
      cellCol: String = "label",
      exactArith: Boolean = false,
      screenDim: Option[Int] = None,
      storedCentroids: Option[DataFrame] = None): DataFrame = {
    // BEFORE any DataFrame that references the kernels: Datasets analyze
    // eagerly at construction, so a later register() call is too late for
    // the probe-assignment plan built a few lines down
    graft.functions.GraftFunctions.register(spark)
    val (queriesS, corpusS) = screened(spark, queries, corpus, embCol, screenDim)
    // index-serving shape: a persisted (cell, centroid) table (readIndex)
    // replaces the centroid-build pass — the ONLY corpus read left is the
    // probe equi-join, which a cell-partitioned index layout prunes to
    // the probed cells (see writeIndex). Derived-centroid mode (None)
    // keeps the self-contained q_ann_ivf shape.
    val cents = broadcast(storedCentroids
      .map(_.select(col("cell"), col("centroid")))
      .getOrElse(centroids(corpusS, cellCol, embCol, exactArith)))
    // assign each query its nprobe nearest cells. In exactArith mode the
    // cell score is the ROUNDED decimal cosine with a cell tie-break, so
    // the probe CHOICE itself (not just the in-cell scores) is
    // engine-reproducible and an oracle can replicate the pruning.
    val cellScore =
      if (exactArith) decimalCosineExpr("q_emb", "centroid")
      else cosineExpr("q_emb", "centroid")
    val wCell = Window.partitionBy(col(qIdCol)).orderBy(col("cell_sim").desc, col("cell"))
    val probes = broadcast(
      queriesS.crossJoin(cents)
        .withColumn("cell_sim", cellScore)
        .withColumn("cell_rank", row_number().over(wCell))
        .filter(col("cell_rank") <= nprobe)
        .select(col(qIdCol), col("q_emb"), col("cell")))
    // score only within probed cells — native codegen'd kernel
    val wTop = Window.partitionBy(col(qIdCol)).orderBy(col("cosine").desc, col(idCol))
    val joined = probes
      .join(corpusS, probes("cell") === corpusS(cellCol))
      .filter(col(qIdCol) =!= col(idCol))
    val ranked =
      if (!exactArith)
        joined
          .withColumn("cosine", expr(s"cosine_similarity(q_emb, $embCol)"))
          .withColumn("rnk", row_number().over(wTop))
      else {
        // exactArith FILTER-AND-REFINE (r15 optimization — the semdedup
        // assignment recipe applied to the top-k boundary): the output only
        // needs the exact decimal cosine for the k WINNERS, so every probed
        // pair is first scored by the ~ns double kernel, and the 3-dot
        // decimal kernel re-ranks only the pairs within 2e-4 of the k-th
        // double score. Soundness: |double − decimal| < ~1e-7 per pair for
        // non-degenerate norms (the semdedupReport band derivation), and if
        // every pair's scores differ by ≤ δ then the true k-th exact value
        // is within δ of the k-th double value — so cd ≥ vkd − 2δ contains
        // every exact top-k row, including 6-dp rounding ties (δ=1e-4 ≫
        // kernel error + half-ulp of the rounding). Degenerate pairs are
        // kept outright: a zero-norm double cosine is exactly 0.0 (kept),
        // NaN components compare greater than any number (kept), and a
        // NULL double cosine is a dimension mismatch, NULL in both kernels
        // (kept; ranks last either way). Fewer-than-k pairs leave the k-th
        // score NULL and disable the band. The DuckDB oracles stay the
        // single-pass decimal rankings and gate every run.
        // both windows share one partitioning (ONE exchange, one sorted
        // pass — no second evaluation of the probe join or the screen)
        val wd = Window.partitionBy(col(qIdCol)).orderBy(col("__cd").desc, col(idCol))
        val wQ = Window.partitionBy(col(qIdCol))
        joined.withColumn("__cd", expr(s"cosine_similarity(q_emb, $embCol)"))
          .withColumn("__rd", row_number().over(wd))
          .withColumn("__vkd", max(when(col("__rd") === k, col("__cd"))).over(wQ))
          .filter(col("__vkd").isNull || col("__cd").isNull ||
            col("__cd") === 0.0 || col("__cd") >= col("__vkd") - lit(2e-4))
          .withColumn("cosine", decimalCosineExpr("q_emb", embCol))
          .withColumn("rnk", row_number().over(wTop))
          .drop("__cd", "__rd", "__vkd")
      }
    ranked
      .filter(col("rnk") <= k)
      .select(col(qIdCol), col("rnk"), col(idCol).as("neighbor"), round(col("cosine"), 6).as("cosine"))
  }

  /** The embeddingVerdict screen applied to both sides of an ANN run:
    * only verdict-'ok' rows (finite, right-dimensioned, nonzero-norm in
    * the kernels' own DECIMAL(28,14) arithmetic) reach the kernels. One
    * narrow per-row filter on each side — no shuffle, pushed to the scans.
    * Queries carry their vector as `q_emb` (the ivfTopK/bruteTopK column
    * convention).
    *
    * Cost honesty: the filter re-evaluates PER CONSUMER SCAN — ivfTopK
    * reads the corpus twice (centroid build + probe equi-join), so every
    * surviving row pays the verdict's exact-decimal self dot product
    * twice. For one-shot screening that is the right trade (no
    * materialization); a pipeline running MANY ANN queries over one
    * untrusted corpus should instead persist the screened corpus once
    * upstream — [[Validate.screenToTable]] is that one-call helper
    * (gated by q_ann_screened_table) — and run unscreened here.
    */
  private def screened(spark: SparkSession, queries: DataFrame, corpus: DataFrame,
                       embCol: String, screenDim: Option[Int]): (DataFrame, DataFrame) =
    screenDim match {
      case Some(d) =>
        (queries.filter(Validate.embeddingVerdict(spark, "q_emb", d) === "ok"),
          corpus.filter(Validate.embeddingVerdict(spark, embCol, d) === "ok"))
      case None => (queries, corpus)
    }

  /** Exact brute-force top-k (the recall oracle and the small-corpus path). */
  def bruteTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 5,
      qIdCol: String = "q_id",
      idCol: String = "vec_id",
      embCol: String = "embedding",
      screenDim: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val (queriesS, corpusS) = screened(queries.sparkSession, queries, corpus, embCol, screenDim)
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("cosine").desc, col(idCol))
    broadcast(queriesS).crossJoin(corpusS)
      .filter(col(qIdCol) =!= col(idCol))
      .withColumn("cosine", expr(s"cosine_similarity(q_emb, $embCol)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(qIdCol), col("rnk"), col(idCol).as("neighbor"), round(col("cosine"), 6).as("cosine"))
  }
}
