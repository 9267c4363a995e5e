package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Ann, Identity, Multimodal}

/** North-star operators registered as queries where no SQL oracle exists:
  * the driver records rows-only checks; the value-level guarantees live in
  * ScalaTest (AnnSpec recall/equivalence, OpsSpec determinism).
  */
object NorthStarQueries {

  /** IVF approximate nearest neighbors (the 100 TB path beside the exact
    * q_cosine_topk): probe the 2 nearest of the label cells per query.
    * DuckDB has no IVF, so the oracle REPLICATES the pruning in SQL —
    * exact decimal centroids, rounded decimal cell ranking with a cell
    * tie-break, top-nprobe probe set, decimal in-cell scoring — the same
    * strategy every LSH oracle here uses (replicate the blocking, don't
    * approximate it). This gates the PRUNED production shape itself, not
    * just its full-probe degenerate (q_ann_fullprobe). The double-kernel
    * variant (cosine_similarity codegen) is the same plan with a faster
    * scorer; AnnSpec value-tests its recall and full-probe equivalence.
    */
  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    Ann.ivfTopK(s, queries, emb, k = 5, nprobe = 2, exactArith = true)
  }

  /** The production-kernel pruned IVF: same plan as q_ann_ivf with the
    * codegen'd cosine_similarity scorer and double centroid means — the
    * configuration a 100 TB run uses. Raw-double ranking cannot be
    * hash-replicated across engines, so (r5 verdict) the query emits the
    * CONTRACT-VERDICT shape instead of raw scores: per query, the kernel's
    * top-5 neighbor set must overlap the exact-decimal twin's top-5 in ≥4
    * members (near-tie rank swaps at the 6-decimal rounding boundary are
    * tolerated; a broken kernel is not). The oracle replicates the exact
    * twin's cardinality and asserts the verdict — q_hll_merge's pattern.
    * The kernel plan still runs in full, so the bench times the real
    * scorer; AnnSpec keeps the value-level recall/equivalence checks.
    */
  def qAnnIvfKernel(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val kernel = Ann.ivfTopK(s, queries, emb, k = 5, nprobe = 2)
    val exact = Ann.ivfTopK(s, queries, emb, k = 5, nprobe = 2, exactArith = true)
    val kSets = kernel.groupBy(col("q_id"))
      .agg(collect_set(col("neighbor")).as("k_set"))
    val eSets = exact.groupBy(col("q_id"))
      .agg(collect_set(col("neighbor")).as("e_set"),
        count(lit(1)).as("n_exact"))
    eSets.join(kSets, "q_id")
      .select(col("q_id"), col("n_exact"),
        (size(array_intersect(col("k_set"), col("e_set"))) >= 4).as("kernel_ok"))
  }

  val qAnnIvfKernelSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
      |e AS (SELECT label, i - 1 AS dim, embedding[CAST(i AS INT)] AS v
      |      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
      |cent0 AS (SELECT label, dim,
      |            CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS mean_v
      |          FROM e GROUP BY label, dim),
      |cent AS (SELECT label, list(mean_v ORDER BY dim) AS centroid FROM cent0 GROUP BY label),
      |cellsim AS (SELECT q.q_id, c.label, ${dCos("q.q_emb", "c.centroid")} AS cell_sim
      |            FROM q CROSS JOIN cent c),
      |probes AS (SELECT q_id, label FROM (
      |             SELECT q_id, label,
      |               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cell_sim DESC, label) AS cell_rank
      |             FROM cellsim)
      |           WHERE cell_rank <= 2),
      |scored AS (SELECT q.q_id, em.vec_id, ${dCos("q.q_emb", "em.embedding")} AS cosine
      |           FROM q JOIN probes p ON q.q_id = p.q_id
      |           JOIN embeddings em ON em.label = p.label
      |           WHERE q.q_id <> em.vec_id),
      |ranked AS (SELECT q_id, vec_id, cosine,
      |             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
      |           FROM scored)
      |SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS kernel_ok
      |FROM ranked WHERE rnk <= 5 GROUP BY q_id""".stripMargin

  /** Decimal cosine of two DuckDB lists — the exactArith ANN algebra
    * (identical to q_ann_fullprobe's oracle), one line for embedding.
    * Shared with the screened-ANN gate (HostileCorpusQueries). */
  private[queries] def dCos(a: String, b: String): String =
    s"ROUND(CAST(list_sum(list_transform(range(1, len($a) + 1), i -> " +
      s"CAST(CAST($a[CAST(i AS INT)] AS DOUBLE) * CAST($b[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE) " +
      s"/ (SQRT(CAST(list_sum(list_transform($a, x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE)) " +
      s"* SQRT(CAST(list_sum(list_transform($b, x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE))), 6)"

  val qAnnIvfSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
      |e AS (SELECT label, i - 1 AS dim, embedding[CAST(i AS INT)] AS v
      |      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
      |cent0 AS (SELECT label, dim,
      |            CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS mean_v
      |          FROM e GROUP BY label, dim),
      |cent AS (SELECT label, list(mean_v ORDER BY dim) AS centroid FROM cent0 GROUP BY label),
      |cellsim AS (SELECT q.q_id, c.label, ${dCos("q.q_emb", "c.centroid")} AS cell_sim
      |            FROM q CROSS JOIN cent c),
      |probes AS (SELECT q_id, label FROM (
      |             SELECT q_id, label,
      |               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cell_sim DESC, label) AS cell_rank
      |             FROM cellsim)
      |           WHERE cell_rank <= 2),
      |scored AS (SELECT q.q_id, em.vec_id, ${dCos("q.q_emb", "em.embedding")} AS cosine
      |           FROM q JOIN probes p ON q.q_id = p.q_id
      |           JOIN embeddings em ON em.label = p.label
      |           WHERE q.q_id <> em.vec_id),
      |ranked AS (SELECT q_id, vec_id, cosine,
      |             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
      |           FROM scored)
      |SELECT q_id, rnk, vec_id AS neighbor, cosine FROM ranked WHERE rnk <= 5""".stripMargin

  /** IVF at FULL probe, hash-gated against the brute-force SQL oracle:
    * with every cell probed, the IVF machinery (centroid build, cell
    * assignment, probe routing, in-cell scoring, ranking) must reproduce
    * the exact scan bit-for-bit — exactArith scores with the same decimal
    * algebra as q_cosine_topk. Complements q_ann_ivf (nprobe=2), whose
    * oracle replicates the pruning itself.
    */
  def qAnnFullprobe(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    Ann.ivfTopK(s, queries, emb, k = 5, nprobe = 64, exactArith = true)
  }

  val qAnnFullprobeSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q_id, vec_id, ${dCos("q_emb", "embedding")} AS cosine
      |  FROM q CROSS JOIN embeddings WHERE q_id <> vec_id),
      |ranked AS (SELECT q_id, vec_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
      |  FROM scored)
      |SELECT q_id, rnk, vec_id AS neighbor, cosine FROM ranked WHERE rnk <= 5""".stripMargin

  /** IVF over cells TRAINED from the unlabeled corpus — Ann.fit's Lloyd
    * loop (2 rounds, k=4, exactArith) composed into ivfTopK, the full
    * production shape for a label-less 100 TB embedding table: seed on the
    * 4 lowest vec_ids, one assignment + one exact-decimal centroid update
    * + the final assignment, then probe the 2 nearest trained cells per
    * query and score exact decimal cosine within them. The oracle UNROLLS
    * the training: seed CTE → decimal-sqdist argmin (dist, cid tie order
    * = Spark's first-minimum array_position) → exact per-dim mean CTE →
    * second argmin → member-mean probe centroids → the q_ann_ivf probe
    * pipeline. Every half-step is decimal-exact, so the trained cell
    * boundaries — not just the final scores — are hash-gated across
    * engines. AnnSpec adds the value-level checks a hash can't express:
    * Lloyd monotonicity (round-2 distortion ≤ round-1) and recall vs
    * bruteTopK ground truth.
    */
  def qAnnTrained(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val model = Ann.fit(emb.select(col("vec_id"), col("embedding")),
      k = 4, iters = 2, exactArith = true)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    Ann.ivfTopK(s, queries, model.assigned, k = 5, nprobe = 2,
      cellCol = "cell", exactArith = true)
  }

  /** The decimal-sqdist argmin assignment under a centroid CTE `cname`
    * (cid, dim, cv) — one Lloyd half-step, shared by both training rounds.
    * Mirrors Ann.fit's kernel exactly: per-dim term CAST((x−cv)·(x−cv) AS
    * DECIMAL(28,14)), exact decimal sum, argmin tie-broken by cid.
    */
  private def lloydAssignSql(cname: String): String =
    s"""SELECT vec_id, cid FROM (
       |  SELECT d.vec_id, d.cid,
       |    ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.dist, d.cid) AS rn
       |  FROM (SELECT x.vec_id, c.cid,
       |          SUM(CAST((x.x - c.cv) * (x.x - c.cv) AS DECIMAL(28,14))) AS dist
       |        FROM x JOIN $cname c USING (dim) GROUP BY 1, 2) d)
       |WHERE rn = 1""".stripMargin

  val qAnnTrainedSql: String =
    s"""WITH x AS (SELECT vec_id, i - 1 AS dim, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
      |seeds AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
      |          FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
      |c0 AS (SELECT s.cid, x.dim, x.x AS cv FROM seeds s JOIN x USING (vec_id)),
      |a1 AS (${lloydAssignSql("c0")}),
      |c1 AS (SELECT a.cid, x.dim,
      |         CAST(SUM(CAST(x.x AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS cv
      |       FROM a1 a JOIN x USING (vec_id) GROUP BY 1, 2),
      |a2 AS (${lloydAssignSql("c1")}),
      |pc0 AS (SELECT a.cid AS cell, x.dim,
      |          CAST(SUM(CAST(x.x AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS mean_v
      |        FROM a2 a JOIN x USING (vec_id) GROUP BY 1, 2),
      |pc AS (SELECT cell, list(mean_v ORDER BY dim) AS centroid FROM pc0 GROUP BY cell),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
      |cellsim AS (SELECT q.q_id, p.cell, ${dCos("q.q_emb", "p.centroid")} AS cell_sim
      |            FROM q CROSS JOIN pc p),
      |probes AS (SELECT q_id, cell FROM (
      |             SELECT q_id, cell,
      |               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cell_sim DESC, cell) AS cell_rank
      |             FROM cellsim)
      |           WHERE cell_rank <= 2),
      |scored AS (SELECT q.q_id, e.vec_id, ${dCos("q.q_emb", "e.embedding")} AS cosine
      |           FROM q JOIN probes p ON q.q_id = p.q_id
      |           JOIN a2 m ON m.cid = p.cell
      |           JOIN embeddings e ON e.vec_id = m.vec_id
      |           WHERE q.q_id <> e.vec_id),
      |ranked AS (SELECT q_id, vec_id, cosine,
      |             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
      |           FROM scored)
      |SELECT q_id, rnk, vec_id AS neighbor, cosine FROM ranked WHERE rnk <= 5""".stripMargin

  /** The PERSISTED-index serving path (r14): Ann.fit → Ann.writeIndex
    * (assigned corpus PARTITIONED BY cell + the trained centroid table) →
    * Ann.readIndex → ivfTopK with `storedCentroids`. Two things differ
    * from q_ann_trained and are exactly what an index buys at 100 TB:
    * the centroid-build corpus pass disappears (probes rank against the
    * STORED trained centroids — the oracle's probe CTE reads c1, not
    * member means), and the one remaining corpus read — the probe
    * equi-join — runs against the cell-partitioned layout, where the
    * broadcast probe set dynamic-partition-prunes the scan to the probed
    * cell directories (AnnSpec pins the `dynamicpruning` partition filter
    * in the executed plan). The oracle unrolls the same training as
    * q_ann_trained, then serves from the stored artifacts' algebra:
    * double centroids round-trip parquet bit-exactly, so the whole
    * write → read → probe path is hash-gated.
    */
  def qAnnIndex(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val model = Ann.fit(emb.select(col("vec_id"), col("embedding")),
      k = 4, iters = 2, exactArith = true)
    val idx = graft.ops.Scratch.dir("ann_index")
    Ann.writeIndex(model, idx.toString)
    serveStored(s, emb, idx.toString)
  }

  /** Serve the stored index under `idx` the way [[annStoredServeSql]]
    * checks it: the 10 queries vec_id < 10 of `emb`, top 5 neighbours each
    * from the 2 stored centroids nearest the query, exact arithmetic. */
  private def serveStored(s: SparkSession, emb: DataFrame, idx: String): DataFrame = {
    val stored = Ann.readIndex(s, idx)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    Ann.ivfTopK(s, queries, stored.assigned, k = 5, nprobe = 2,
      cellCol = "cell", exactArith = true,
      storedCentroids = Some(stored.centroids))
  }

  /** Serve-from-STORED-centroids oracle, parameterized by the trained cell
    * count `k`: the q_ann_trained Lloyd unroll (2 rounds, seeds = the k
    * lowest vec_ids), probes ranked against c1 — the trained table
    * [[graft.ops.Ann.writeIndex]] persists — and in-cell exact-decimal
    * scoring over the a2 membership. Shared verbatim by every gate whose
    * final state is "the full corpus laid out under a k-cell trained
    * index": q_ann_index (write → read → serve), q_stream_ann_ingest
    * (3-micro-batch streamed ingest — append ORDER cannot affect a set
    * union, so the streamed corpus must hash-match the batch rebuild),
    * q_ann_compact (ingest + compaction must be serve-invariant), and
    * q_ann_replace at k=5 (a swapped index must serve the NEW training —
    * leaking the old k=4 generation hash-mismatches).
    */
  private def annStoredServeSql(k: Int): String =
    s"""WITH x AS (SELECT vec_id, i - 1 AS dim, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
      |seeds AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
      |          FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $k)),
      |c0 AS (SELECT s.cid, x.dim, x.x AS cv FROM seeds s JOIN x USING (vec_id)),
      |a1 AS (${lloydAssignSql("c0")}),
      |c1 AS (SELECT a.cid, x.dim,
      |         CAST(SUM(CAST(x.x AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS cv
      |       FROM a1 a JOIN x USING (vec_id) GROUP BY 1, 2),
      |a2 AS (${lloydAssignSql("c1")}),
      |pc AS (SELECT cid AS cell, list(cv ORDER BY dim) AS centroid FROM c1 GROUP BY cid),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
      |cellsim AS (SELECT q.q_id, p.cell, ${dCos("q.q_emb", "p.centroid")} AS cell_sim
      |            FROM q CROSS JOIN pc p),
      |probes AS (SELECT q_id, cell FROM (
      |             SELECT q_id, cell,
      |               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cell_sim DESC, cell) AS cell_rank
      |             FROM cellsim)
      |           WHERE cell_rank <= 2),
      |scored AS (SELECT q.q_id, e.vec_id, ${dCos("q.q_emb", "e.embedding")} AS cosine
      |           FROM q JOIN probes p ON q.q_id = p.q_id
      |           JOIN a2 m ON m.cid = p.cell
      |           JOIN embeddings e ON e.vec_id = m.vec_id
      |           WHERE q.q_id <> e.vec_id),
      |ranked AS (SELECT q_id, vec_id, cosine,
      |             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
      |           FROM scored)
      |SELECT q_id, rnk, vec_id AS neighbor, cosine FROM ranked WHERE rnk <= 5""".stripMargin

  val qAnnIndexSql: String = annStoredServeSql(4)

  /** STREAMED ingest into the persisted trained index — the composition of
    * the engine's two headline subsystems, and the round-15 headline gate:
    * the reference's core premise is stream-driven dataflow (DynamoDB
    * Streams → Lambda, /root/reference/bert/deploy/utils.py:881-901), so
    * the index must grow FROM A STREAM, not only via batch appends. Train
    * on the full corpus (the q_ann_trained Lloyd unroll), persist a base
    * index holding only the vec_id % 4 = 0 quarter, then drain the other
    * three quarters through a REAL streaming execution — file source,
    * maxFilesPerTrigger=1 over three mtime-ordered staged files = three
    * deterministic micro-batches — into [[graft.ops.Ann.streamIngest]]
    * (foreachBatch → ledgered, deterministic-name ingestBatch publishes;
    * screen ON, the untrusted-stream posture). Serving the drained index
    * must hash-match the BATCH-REBUILD oracle (annStoredServeSql over the
    * full table): a lost batch, a duplicated replay, a wrong-cell
    * assignment under the stored centroids, or a screen that perturbed
    * clean rows all break the gate. Exactly-once across crash points is
    * AnnSpec's job (replay no-op, partial-publish convergence, checkpoint
    * restart); the gate pins the end-to-end composition.
    */
  def qStreamAnnIngest(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val model = Ann.fit(corpus, k = 4, iters = 2, exactArith = true)
    val idx = graft.ops.Scratch.dir("ann_stream_idx").toString
    Ann.writeIndex(
      model.copy(assigned = model.assigned.filter(col("vec_id") % 4 === 0)), idx)
    // one staged file, so one micro-batch, per remaining quarter
    val stage = StreamingQueries.stageBatches(
      corpus.filter(col("vec_id") % 4 =!= 0)
        .withColumn("b", (col("vec_id") % 4 - 1).cast("int")), "annstage")
    val ckpt = graft.ops.Scratch.dir("ann_stream_ckpt").toString
    // throwaway checkpoint for a 3-batch drain: the same
    // checksum-off / FileSystem-manager / width confs as every other
    // registry drain (StreamingQueries.withDrainConfs scaladoc) — the
    // exactly-once contract under test lives in the ingest LEDGER, not in
    // the checkpoint's checksum sidecars (AnnSpec's restart/replay pins
    // run with default confs)
    try StreamingQueries.withDrainConfs(s, 8) {
      Ann.streamIngest(StreamingQueries.stagedStream(s, stage, corpus.schema),
        idx, ckpt, exactArith = true, screenDim = Some(64)).awaitTermination()
    } finally graft.ops.Scratch.rm(stage)
    serveStored(s, emb, idx)
  }

  val qStreamAnnIngestSql: String = annStoredServeSql(4)

  /** Index COMPACTION is serve-invariant: grow the index the fragmenting
    * way (base third + two appendToIndex batches — three file sets per
    * touched cell), compact every cell to target-size files
    * ([[graft.ops.Ann.compactIndex]]: per-cell coalesce rewrite behind a
    * heal-able two-rename swap, cells rewritten concurrently), and serve.
    * The oracle is the batch-rebuild algebra — a compaction that drops,
    * duplicates, or perturbs any row hash-mismatches. The file-count
    * reduction itself (the thing compaction is FOR at streaming-ingest
    * cadence) is measured in AnnSpec; the gate pins the invariant that
    * makes the maintenance pass safe to run at all.
    */
  def qAnnCompact(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val model = Ann.fit(corpus, k = 4, iters = 2, exactArith = true)
    val idx = graft.ops.Scratch.dir("ann_compact_idx").toString
    Ann.writeIndex(
      model.copy(assigned = model.assigned.filter(col("vec_id") % 3 === 0)), idx)
    Ann.appendToIndex(s, corpus.filter(col("vec_id") % 3 === 1), idx, exactArith = true)
    Ann.appendToIndex(s, corpus.filter(col("vec_id") % 3 === 2), idx, exactArith = true)
    // 4 MB target: demonstration-scale — at the 100× rehearsal each ~13 MB
    // cell compacts to 4 splittable files (a 64 MB production target would
    // collapse it to ONE sub-maxPartitionBytes file and serialize the
    // probed-cell scan on a single task; see compactIndex's scaladoc)
    Ann.compactIndex(s, idx, targetFileBytes = 4L << 20)
    serveStored(s, emb, idx)
  }

  val qAnnCompactSql: String = annStoredServeSql(4)

  /** Index REPLACE serves the new generation: write a k=4 trained index,
    * then [[graft.ops.Ann.replaceIndex]] it with a k=5 re-fit (the
    * re-fit-on-drift path [[graft.ops.Ann.recallDrift]] triggers —
    * the reference's replace-all ETLDataset.update,
    * /root/reference/bert/etl/__init__.py:133-164, as an index rebuild).
    * The swap is marker-committed (version dir fully written, `_complete`
    * created LAST, readers resolve the highest complete version — no
    * pointer-rename window). The oracle unrolls the k=5 training: if
    * serving leaked the old k=4 generation — stale centroids, stale
    * membership, or a readIndex that ignored the version layout — the
    * hash breaks. Version retention/pruning is AnnSpec's.
    */
  def qAnnReplace(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val idx = graft.ops.Scratch.dir("ann_replace_idx").toString
    Ann.writeIndex(Ann.fit(corpus, k = 4, iters = 2, exactArith = true), idx)
    Ann.replaceIndex(s, Ann.fit(corpus, k = 5, iters = 2, exactArith = true), idx)
    serveStored(s, emb, idx)
  }

  val qAnnReplaceSql: String = annStoredServeSql(5)

  /** Multimodal VIDEO feature pipeline, REAL end-to-end (r9: the last
    * stubbed kind went real): one animated GIF per document (8×4
    * grayscale, 1 or 4 frames by n_chars parity, pixel p of frame f
    * colored v = (doc_id·7 + f·13 + p·3) mod 256), written through
    * `ImageIO`'s sequence writer ([[Multimodal.grayFramesToGif]] — exact
    * 256-gray palette, lossless), then the full pipeline under test:
    * typed-Dataset construction → mapPartitions batch decode
    * ([[Multimodal.decodeGifFrames]], ONE container parse per row) →
    * frame sampling (stride 2 over the ACTUAL container frames) →
    * per-frame bucket features → feature-mass rollup. The oracle replays
    * the pixel generator in pure integer SQL and never sees the GIF
    * bytes, so a container-parse / frame-index / palette / sampling bug
    * breaks the hash gate. Exactness: each pixel contributes 3v/256 —
    * dyadic with a fixed 256 denominator, so every sum is
    * order-independent and bit-exact.
    */
  def qMultimodal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, nChars) =>
        val nFrames = if (nChars % 2 == 0) 1 else 4
        val w = 8
        val h = 4
        val frames = (0 until nFrames).map { f =>
          Array.tabulate(w * h)(p => ((id * 7 + f * 13 + p * 3) % 256).toInt)
        }
        Multimodal.Media(id, "video", Multimodal.grayFramesToGif(w, h, frames),
          w, h, 0, nFrames)
      }
    val feats = Multimodal.extractFeatures(s, media, dim = 16, frameStride = 2)
    feats.toDF()
      .groupBy(col("frame"))
      .agg(count(lit(1)).as("n_media"),
        round(sum(expr("aggregate(features, CAST(0 AS DOUBLE), (a, x) -> a + x)")), 6)
          .as("sum_feature_mass"))
  }

  val qMultimodalSql: String =
    """WITH m AS (
      |  SELECT doc_id, CASE WHEN n_chars % 2 = 0 THEN 1 ELSE 4 END AS n_frames
      |  FROM documents WHERE doc_id < 100),
      |f AS (SELECT doc_id, CAST(u.f AS INT) AS frame
      |      FROM m, UNNEST(range(0, n_frames, 2)) AS u(f)),
      |px AS (SELECT doc_id, frame, (doc_id * 7 + frame * 13 + u.p * 3) % 256 AS v
      |       FROM f, UNNEST(range(0, 32)) AS u(p)),
      |dm AS (SELECT doc_id, frame, SUM(v) AS sv FROM px GROUP BY 1, 2)
      |SELECT frame, COUNT(*) AS n_media,
      |  ROUND(CAST(SUM(3 * sv) AS DOUBLE) / 256.0, 6) AS sum_feature_mass
      |FROM dm GROUP BY frame""".stripMargin

  /** Multimodal inventory through the typed Media path WITH an oracle: the
    * decode kernels are engine-side (REAL JDK codecs since round 9 —
    * WAV/PNG/GIF, gated by q_audio_decode / q_image_decode /
    * q_multimodal), but the schema/plumbing
    * layer — binary payload + typed metadata flowing through the
    * Dataset[Media] encoder — is replicable from the raw table, so byte
    * sizes, kinds, and frame plans are hash-gated against DuckDB. This
    * gates what q_multimodal (rows-only) cannot: that the media construction
    * itself loses nothing.
    */
  def qMediaInventory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .map { r =>
        Multimodal.Media(
          media_id = r.getLong(0),
          kind = if (r.getLong(2) % 2 == 0) "image" else "video",
          bytes = r.getString(1).getBytes("UTF-8"),
          width = 64, height = 64, sample_rate = 0,
          n_frames = if (r.getLong(2) % 2 == 0) 1 else 4)
      }
    media.toDF()
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"),
        sum(length(col("bytes"))).as("total_bytes"),
        sum(col("n_frames")).as("total_frames"),
        max(length(col("bytes")).cast("long")).as("max_bytes"))
  }

  val qMediaInventorySql: String =
    """SELECT CASE WHEN n_chars % 2 = 0 THEN 'image' ELSE 'video' END AS kind,
      |  COUNT(*) AS n_media,
      |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
      |  CAST(SUM(CASE WHEN n_chars % 2 = 0 THEN 1 ELSE 4 END) AS BIGINT) AS total_frames,
      |  CAST(MAX(strlen(text)) AS BIGINT) AS max_bytes
      |FROM documents WHERE doc_id < 100 GROUP BY 1""".stripMargin

  /** REAL audio decode, end-to-end oracle-gated (closes the r5/r7 "decode
    * kernel is the one declared fake" item). One WAV clip per document:
    * n = 100 + doc_id % 50 mono 16-bit samples with
    * sample_i = (doc_id·7919 + i·104729) mod 65536 − 32768, encoded
    * through `AudioSystem`'s WAV writer ([[Multimodal.pcm16ToWav]]). The
    * side under test — [[Multimodal.decodeWavPcm16]] — runs the JDK's
    * audio codec stack in reverse inside mapPartitions and reports
    * per-clip integer sample statistics. The oracle replays the generator
    * formula in pure integer SQL and never sees the container bytes, so a
    * header / endianness / signedness / frame-length bug in the decode
    * breaks the hash gate. Scale: decode is partition-local next to the
    * bytes (the only shape that works when the bytes are 100 TB);
    * statistics are per-row, the rollup map-side-combinable.
    */
  def qAudioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val n = (100 + id % 50).toInt
        val samples = Array.tabulate(n) { i =>
          ((id * 7919 + i.toLong * 104729) % 65536 - 32768).toShort
        }
        Multimodal.Media(id, "audio", Multimodal.pcm16ToWav(samples, 16000),
          0, 0, 16000, 1)
      }
    media.mapPartitions { it =>
      it.map { m =>
        val (rate, ch, smp) = Multimodal.decodeWavPcm16(m.bytes)
        var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
        smp.foreach { v => sum += v; if (v < mn) mn = v; if (v > mx) mx = v }
        (m.media_id, rate.toLong, ch.toLong, smp.length.toLong, sum,
          mn.toLong, mx.toLong)
      }
    }.toDF("media_id", "sample_rate", "channels", "n_samples", "sum_amp",
      "min_amp", "max_amp")
  }

  val qAudioDecodeSql: String =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
      |s AS (SELECT doc_id, ((doc_id * 7919 + u.i * 104729) % 65536) - 32768 AS amp
      |      FROM d, UNNEST(range(0, 100 + doc_id % 50)) AS u(i))
      |SELECT doc_id AS media_id, CAST(16000 AS BIGINT) AS sample_rate,
      |  CAST(1 AS BIGINT) AS channels, CAST(COUNT(*) AS BIGINT) AS n_samples,
      |  CAST(SUM(amp) AS BIGINT) AS sum_amp, CAST(MIN(amp) AS BIGINT) AS min_amp,
      |  CAST(MAX(amp) AS BIGINT) AS max_amp
      |FROM s GROUP BY doc_id""".stripMargin

  /** REAL image decode, end-to-end oracle-gated (the q_audio_decode
    * discipline applied to the second media kind — closes the r8 "image
    * kernel is the one remaining fake" item). One PNG per document:
    * w = 4 + doc_id % 5, h = 3 + doc_id % 4, pixel i (row-major) colored
    * r = (doc_id·3 + i·7) mod 256, g = (doc_id·5 + i·11) mod 256,
    * b = (doc_id·13 + i·17) mod 256, encoded through `ImageIO`'s PNG
    * writer ([[Multimodal.rgbToPng]] — lossless, so decode must be
    * bit-exact). The side under test — [[Multimodal.decodeImageRgb]] —
    * runs the JDK's image codec stack in reverse inside mapPartitions and
    * reports per-image integer channel statistics. The oracle replays the
    * generator formula in pure integer SQL and never sees the container
    * bytes, so a header / stride / channel-order / color-model bug in the
    * decode breaks the hash gate. Scale: decode is partition-local next to
    * the bytes; statistics are per-row, the rollup map-side-combinable.
    */
  def qImageDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val rgb = new Array[Int](w * h * 3)
        var i = 0
        while (i < w * h) {
          rgb(3 * i) = ((id * 3 + i * 7) % 256).toInt
          rgb(3 * i + 1) = ((id * 5 + i * 11) % 256).toInt
          rgb(3 * i + 2) = ((id * 13 + i * 17) % 256).toInt
          i += 1
        }
        Multimodal.Media(id, "image", Multimodal.rgbToPng(w, h, rgb),
          w, h, 0, 1)
      }
    media.mapPartitions { it =>
      it.map { m =>
        val (w, h, rgb) = Multimodal.decodeImageRgb(m.bytes)
        var sr = 0L; var sg = 0L; var sb = 0L
        var mn = Int.MaxValue; var mx = Int.MinValue
        var p = 0
        while (p < w * h) {
          val r = rgb(3 * p); val g = rgb(3 * p + 1); val b = rgb(3 * p + 2)
          sr += r; sg += g; sb += b
          val lum = r + g + b
          if (lum < mn) mn = lum
          if (lum > mx) mx = lum
          p += 1
        }
        (m.media_id, w.toLong, h.toLong, (w * h).toLong, sr, sg, sb,
          mn.toLong, mx.toLong)
      }
    }.toDF("media_id", "width", "height", "n_pixels", "sum_r", "sum_g",
      "sum_b", "min_lum", "max_lum")
  }

  val qImageDecodeSql: String =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
      |dims AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM d),
      |px AS (SELECT doc_id, w, h,
      |         (doc_id * 3 + u.i * 7) % 256 AS r,
      |         (doc_id * 5 + u.i * 11) % 256 AS g,
      |         (doc_id * 13 + u.i * 17) % 256 AS b
      |       FROM dims, UNNEST(range(0, w * h)) AS u(i))
      |SELECT doc_id AS media_id, CAST(MAX(w) AS BIGINT) AS width,
      |  CAST(MAX(h) AS BIGINT) AS height, CAST(COUNT(*) AS BIGINT) AS n_pixels,
      |  CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
      |  CAST(SUM(b) AS BIGINT) AS sum_b,
      |  CAST(MIN(r + g + b) AS BIGINT) AS min_lum,
      |  CAST(MAX(r + g + b) AS BIGINT) AS max_lum
      |FROM px GROUP BY doc_id""".stripMargin

  /** Image near-dup dedup via AVERAGE-HASH (aHash — the classic
    * perceptual-fingerprint primitive behind pHash/dHash pipelines),
    * end-to-end through the REAL PNG codec: 60 generated 16×16 images
    * (ids 2k/2k+1 share a base pattern; the odd member perturbs every
    * 16th pixel by +2 — a planted near-duplicate the hash must survive)
    * are encoded with ImageIO's PNG writer, decoded back with
    * [[Multimodal.decodeImageRgb]] inside mapPartitions, block-averaged
    * to an 8×8 grid, and thresholded against the image mean with an
    * INTEGER cross-multiply (block_sum·64 > total_sum — no division, no
    * floats), giving a 64-bit fingerprint carried as two 32-bit BIGINT
    * halves (hi = bits 0–31, lo = 32–63; no sign-bit hazards in either
    * engine). Near-dup pairs come from the q_simhash pigeonhole: 4×16-bit
    * bands, equi-join on any matching band, exact hamming (bit_count of
    * xor) ≤ 3 verify — recall for hamming ≤ 3 is EXACT (3 differing bits
    * cannot touch all 4 bands). The oracle replays the pixel generator,
    * the block/threshold arithmetic, the banding, and the hamming in
    * pure integer SQL and never sees the container bytes — so a codec,
    * stride, block-indexing, bit-packing, or banding bug anywhere breaks
    * the gate. Scale: hashing is partition-local next to the bytes (the
    * only shape at 100 TB of images); the join is banded (never all
    * pairs); the fingerprint table is 16 bytes/image — the thing you'd
    * persist as the image-dedup index.
    */
  def qImagePhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The planted-pair guarantee (30 near-dup pairs at ids 2k/2k+1) needs
    // ALL of doc_ids 0..59 present: on a smaller corpus the pair set would
    // silently shrink and the "all 30 pairs found" invariant (InvariantsSpec)
    // would degrade with no gate signal — both engines see the same truncated
    // corpus, so the oracle can't catch it. Fail fast instead (pre-flight
    // count is a pruned single-column scan; ScaleGuard discipline).
    val nSeeds = Tables.documents(s, dir).filter(col("doc_id") < 60).count()
    require(nSeeds == 60,
      s"q_image_phash needs documents with dense doc_ids 0..59 (found $nSeeds " +
        "of 60): the planted near-dup pairs (2k, 2k+1) and the 30-pair " +
        "recall guarantee assume all 60 generator images exist")
    val media = Tables.documents(s, dir)
      .filter(col("doc_id") < 60)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val base = id - (id % 2)
        val odd = id % 2 == 1
        val rgb = new Array[Int](16 * 16 * 3)
        var i = 0
        while (i < 256) {
          var g = ((base * 37 + i * 11) % 256).toInt
          if (odd && i % 16 == 0) g = (g + 2) % 256
          rgb(3 * i) = g; rgb(3 * i + 1) = g; rgb(3 * i + 2) = g
          i += 1
        }
        Multimodal.Media(id, "image", Multimodal.rgbToPng(16, 16, rgb),
          16, 16, 0, 1)
      }
    // truncated: feeds bands + both pair-side joins of the returned plan
    val hashed = graft.ops.Lineage.truncate(media.mapPartitions { it =>
      it.map { m =>
        val (w, h, rgb) = Multimodal.decodeImageRgb(m.bytes)
        require(w == 16 && h == 16, s"unexpected decode dims ${w}x$h")
        val blocks = new Array[Long](64)
        var i = 0
        while (i < 256) {
          val lum = rgb(3 * i) + rgb(3 * i + 1) + rgb(3 * i + 2)
          blocks((i / 32) * 8 + (i % 16) / 2) += lum
          i += 1
        }
        val tot = blocks.sum
        var hi = 0L; var lo = 0L; var k = 0
        while (k < 64) {
          if (blocks(k) * 64 > tot) {
            if (k < 32) hi |= 1L << k else lo |= 1L << (k - 32)
          }
          k += 1
        }
        (m.media_id, hi, lo)
      }
    }.toDF("media_id", "hi", "lo"))
    val bands = hashed.select(col("media_id"),
      posexplode(array(
        expr("hi div 65536"), expr("hi % 65536"),
        expr("lo div 65536"), expr("lo % 65536"))).as(Seq("band", "bkey")))
    val cand = bands.as("x").join(bands.as("y"), Seq("band", "bkey"))
      .where(col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("img_a"), col("y.media_id").as("img_b"))
      .distinct()
    cand
      .join(hashed.select(col("media_id").as("img_a"),
        col("hi").as("a_hi"), col("lo").as("a_lo")), Seq("img_a"))
      .join(hashed.select(col("media_id").as("img_b"),
        col("hi").as("b_hi"), col("lo").as("b_lo")), Seq("img_b"))
      .withColumn("hamming",
        expr("bit_count(a_hi ^ b_hi) + bit_count(a_lo ^ b_lo)").cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("img_a"), col("img_b"), col("hamming"),
        (col("img_a") - (col("img_a") % 2) === col("img_b") - (col("img_b") % 2))
          .as("same_base"))
  }

  val qImagePhashSql: String =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60),
      |px AS (SELECT doc_id,
      |         (u.i // 32) * 8 + (u.i % 16) // 2 AS bk,
      |         3 * (((doc_id - doc_id % 2) * 37 + u.i * 11) % 256
      |              + CASE WHEN doc_id % 2 = 1 AND u.i % 16 = 0
      |                     THEN CASE WHEN ((doc_id - doc_id % 2) * 37 + u.i * 11) % 256 >= 254
      |                               THEN 2 - 256 ELSE 2 END
      |                     ELSE 0 END) AS lum
      |       FROM d, UNNEST(range(0, 256)) AS u(i)),
      |blk AS (SELECT doc_id, bk, CAST(SUM(lum) AS BIGINT) AS bs
      |        FROM px GROUP BY 1, 2),
      |tot AS (SELECT doc_id, CAST(SUM(bs) AS BIGINT) AS ts FROM blk GROUP BY 1),
      |bits AS (SELECT blk.doc_id, bk,
      |           CASE WHEN bs * 64 > ts THEN 1 ELSE 0 END AS bit
      |         FROM blk JOIN tot USING (doc_id)),
      |hsh AS (SELECT doc_id,
      |          CAST(SUM(CASE WHEN bk < 32 THEN bit * (CAST(1 AS BIGINT) << bk) ELSE 0 END) AS BIGINT) AS hi,
      |          CAST(SUM(CASE WHEN bk >= 32 THEN bit * (CAST(1 AS BIGINT) << (bk - 32)) ELSE 0 END) AS BIGINT) AS lo
      |        FROM bits GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, hi // 65536 AS bkey FROM hsh
      |  UNION ALL SELECT doc_id, 1, hi % 65536 FROM hsh
      |  UNION ALL SELECT doc_id, 2, lo // 65536 FROM hsh
      |  UNION ALL SELECT doc_id, 3, lo % 65536 FROM hsh),
      |cand AS (SELECT DISTINCT x.doc_id AS img_a, y.doc_id AS img_b
      |         FROM bands x JOIN bands y
      |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
      |SELECT c.img_a, c.img_b,
      |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming,
      |  (c.img_a - c.img_a % 2) = (c.img_b - c.img_b % 2) AS same_base
      |FROM cand c JOIN hsh a ON a.doc_id = c.img_a JOIN hsh b ON b.doc_id = c.img_b
      |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin

  /** Content-identity audit over every table row of documents using the
    * library Identity op (sha2 of canonical JSON). The hash VALUES can't be
    * oracle-compared (to_json field formatting differs between engines),
    * but the invariant can: doc_id is the documents PK, so distinct
    * identities must equal distinct doc_ids must equal the row count —
    * the oracle computes the same invariant from the PK side, gating that
    * Spark's identity column is one-per-row and collision-free.
    */
  def qIdentityAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Identity.withIdentity(docs, "identity")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("identity")).as("n_identities"))
      .withColumn("all_unique", col("n_rows") === col("n_identities"))
  }

  val qIdentityAuditSql: String =
    """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT doc_id) AS n_identities,
      |  COUNT(*) = COUNT(DISTINCT doc_id) AS all_unique
      |FROM documents""".stripMargin

  def all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_ann_ivf" -> ((qAnnIvf _, Some(qAnnIvfSql))),
    "q_ann_ivf_kernel" -> ((qAnnIvfKernel _, Some(qAnnIvfKernelSql))),
    "q_ann_fullprobe" -> ((qAnnFullprobe _, Some(qAnnFullprobeSql))),
    "q_ann_trained" -> ((qAnnTrained _, Some(qAnnTrainedSql))),
    "q_ann_index" -> ((qAnnIndex _, Some(qAnnIndexSql))),
    "q_stream_ann_ingest" -> ((qStreamAnnIngest _, Some(qStreamAnnIngestSql))),
    "q_ann_compact" -> ((qAnnCompact _, Some(qAnnCompactSql))),
    "q_ann_replace" -> ((qAnnReplace _, Some(qAnnReplaceSql))),
    "q_multimodal" -> ((qMultimodal _, Some(qMultimodalSql))),
    "q_audio_decode" -> ((qAudioDecode _, Some(qAudioDecodeSql))),
    "q_image_decode" -> ((qImageDecode _, Some(qImageDecodeSql))),
    "q_image_phash" -> ((qImagePhash _, Some(qImagePhashSql))),
    "q_media_inventory" -> ((qMediaInventory _, Some(qMediaInventorySql))),
    "q_identity_audit" -> ((qIdentityAudit _, Some(qIdentityAuditSql)))
  )
}
