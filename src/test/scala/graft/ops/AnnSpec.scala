package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** IVF ANN vs the exact brute-force scan: structural invariants + recall.
  * The testdata labels are random cluster ids (embeddings are not actually
  * clustered around them — max pairwise cosine ≈ 0.5), so recall@5 with
  * nprobe=2/10 cells is statistically ~nprobe/cells; the spec asserts the
  * mechanics (subsetting, ranking, degeneration to exact at full probe)
  * rather than a recall floor the data cannot support.
  */
class AnnSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)
  private def queries = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  test("centroids: one per cell, dimension preserved") {
    val c = Ann.centroids(emb, "label", "embedding").collect()
    val nLabels = emb.select("label").distinct().count()
    assert(c.length == nLabels)
    assert(c.forall(_.getSeq[Double](1).size == 64))
  }

  test("brute-force top-k: k rows per query, descending, no self-match") {
    val top = Ann.bruteTopK(queries, emb, k = 5).collect()
    assert(top.length == 5 * 5)
    val byQ = top.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val sims = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    assert(top.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("ivf with nprobe = #cells equals the exact scan") {
    val cells = emb.select("label").distinct().count().toInt
    val exact = Ann.bruteTopK(queries, emb, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val full = Ann.ivfTopK(spark, queries, emb, k = 3, nprobe = cells).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(full == exact)
  }

  test("bruteTopK with screenDim drops degenerate vectors and keeps results exact") {
    // hostile corpus rows: a NaN vector (must be screened out of the
    // neighbor set) and a wrong-dimension vector (dim_mismatch)
    val hostile = spark.sql(
      """SELECT CAST(8000002 AS BIGINT) AS vec_id,
        |  transform(sequence(1, 64), i -> CAST(CASE WHEN i = 1 THEN 'NaN' ELSE '1.0' END AS FLOAT)) AS embedding,
        |  2 AS label
        |UNION ALL
        |SELECT CAST(8000008 AS BIGINT),
        |  transform(sequence(1, 3), i -> CAST('1.0' AS FLOAT)), 8""".stripMargin)
    val corpus = hostile.unionByName(emb.filter(col("vec_id") < 100))
    val screened = Ann.bruteTopK(queries, corpus, k = 5, screenDim = Some(64)).collect()
    val clean = Ann.bruteTopK(queries, emb.filter(col("vec_id") < 100), k = 5).collect()
    // no degenerate vector survives into any top-k…
    assert(!screened.exists(r => r.getLong(2) >= 8000000L))
    // …and on the surviving clean rows the results are identical to the
    // hostile-free run (the screen only removes, never perturbs)
    assert(screened.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet ==
      clean.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
  }

  test("fit: every row gets exactly one trained cell; centroids table matches") {
    val model = Ann.fit(emb.select(col("vec_id"), col("embedding")), k = 4, iters = 2)
    val n = emb.count()
    assert(model.assigned.count() == n)
    assert(model.assigned.filter(col("cell").isNull).count() == 0)
    val usedCells = model.assigned.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    val modelCells = model.centroids.collect().map(_.getInt(0)).toSet
    // assignment only ever lands on a trained (non-degenerate) cell…
    assert(usedCells.subsetOf(modelCells))
    assert(modelCells.subsetOf((0 until 4).toSet))
    // …and every centroid keeps the corpus dimensionality
    assert(model.centroids.collect().forall(_.getSeq[Double](1).size == 64))
  }

  test("fit: Lloyd distortion is monotone non-increasing across rounds") {
    // J(assignment) = total sqdist to the assignment's own member means —
    // Lloyd's objective after the update half-step; classic monotonicity
    // guarantees J(iters=2) <= J(iters=1)
    def distortion(assigned: org.apache.spark.sql.DataFrame): Double = {
      val cents = Ann.centroids(assigned, "cell", "embedding")
        .withColumnRenamed("cell", "c_cell")
      assigned.join(broadcast(cents), col("cell") === col("c_cell"))
        .withColumn("d", expr(
          """aggregate(zip_with(embedding, centroid, (x, y) ->
            |  (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
            |CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin))
        .agg(sum(col("d"))).collect()(0).getDouble(0)
    }
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val j1 = distortion(Ann.fit(corpus, k = 4, iters = 1).assigned)
    val j2 = distortion(Ann.fit(corpus, k = 4, iters = 2).assigned)
    val j3 = distortion(Ann.fit(corpus, k = 4, iters = 3).assigned)
    assert(j2 <= j1 + 1e-9, s"round 2 worsened Lloyd objective: $j1 -> $j2")
    assert(j3 <= j2 + 1e-9, s"round 3 worsened Lloyd objective: $j2 -> $j3")
  }

  test("fit-trained ivf: recall@5 vs bruteTopK beats the random-cell expectation") {
    // trained cells are GEOMETRIC (unlike the testdata's random labels), so
    // probing the 2 nearest of 4 trained cells must recover well over the
    // ~nprobe/k = 50% a random partition would give
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val model = Ann.fit(corpus, k = 4, iters = 2)
    val ivf = Ann.ivfTopK(spark, queries, model.assigned, k = 5, nprobe = 2,
      cellCol = "cell")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = Ann.bruteTopK(queries, corpus, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"trained-cell recall@5 = $recall, expected >= 0.6")
  }

  test("assign composes fit-on-a-sample with full-corpus assignment") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val sample = corpus.filter(col("vec_id") % 2 === 0) // uniform half
    val model = Ann.fit(sample, k = 4, iters = 2)
    val full = Ann.assign(corpus, model.centroids)
    // every corpus row (sampled or not) gets exactly one trained cell
    assert(full.count() == corpus.count())
    assert(full.filter(col("cell").isNull).count() == 0)
    val modelCells = model.centroids.collect().map(_.getInt(0)).toSet
    assert(full.select("cell").distinct().collect()
      .map(_.getInt(0)).toSet.subsetOf(modelCells))
    // same centroids + same argmin algebra: assigning the fit's own
    // corpus reproduces the model's assignment bit-for-bit
    val reassigned = Ann.assign(sample, model.centroids)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    val original = model.assigned
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(reassigned == original)
  }

  test("persisted index: probe join prunes the cell-partitioned scan; serving matches") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val model = Ann.fit(corpus, k = 4, iters = 2)
    val dir = tmpDir("annidx") + "/idx"
    Ann.writeIndex(model, dir)
    val stored = Ann.readIndex(spark, dir)
    val served = Ann.ivfTopK(spark, queries, stored.assigned, k = 5, nprobe = 2,
      cellCol = "cell", storedCentroids = Some(stored.centroids))
    // the probe equi-join's corpus scan carries a dynamic partition-pruning
    // filter — only the probed cell directories are read (the thing the
    // partitioned layout exists for)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the index scan:\n${plan.take(3000)}")
    // write → read → serve returns exactly what serving the in-memory
    // model returns (doubles round-trip parquet bit-exactly)
    val direct = Ann.ivfTopK(spark, queries, model.assigned, k = 5, nprobe = 2,
      cellCol = "cell", storedCentroids = Some(model.centroids))
    assert(served.collect().map(_.toString).toSet ==
      direct.collect().map(_.toString).toSet)
  }

  test("writeIndex clusters a producer as wide as the shuffle width to one file per cell") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val model = Ann.fit(corpus, k = 4, iters = 2)
    val width = spark.sessionState.conf.numShufflePartitions
    val wide = model.copy(assigned = model.assigned.repartition(width))
    assert(wide.assigned.rdd.getNumPartitions == width && width > 1)
    val dir = tmpDir("annfiles") + "/idx"
    Ann.writeIndex(wide, dir)
    val fs = fsFor(dir)
    val perCell = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/corpus"))
      .filter(_.isDirectory).map { cd =>
        cd.getPath.getName -> fs.listStatus(cd.getPath).count(_.getPath.getName.endsWith(".parquet"))
      }.toMap
    assert(perCell.size == model.nCells)
    assert(perCell.values.forall(_ == 1), perCell)
    // the read-back model carries the stored cell count and the schema
    // inference would give
    val stored = Ann.readIndex(spark, dir)
    assert(stored.nCells == model.nCells)
    assert(stored.assigned.schema == spark.read.parquet(s"$dir/corpus").schema)
    assert(stored.centroids.schema == spark.read.parquet(s"$dir/centroids").schema)
  }

  test("appendToIndex: incremental ingest equals a same-centroid rebuild") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val half1 = corpus.filter(col("vec_id") < 250)
    val half2 = corpus.filter(col("vec_id") >= 250)
    val model = Ann.fit(half1, k = 4, iters = 2)
    val dir = tmpDir("annappend") + "/idx"
    Ann.writeIndex(model, dir)
    Ann.appendToIndex(spark, half2, dir)
    val grown = Ann.readIndex(spark, dir)
    // the grown index covers the full corpus, each row exactly once…
    assert(grown.assigned.count() == corpus.count())
    assert(grown.assigned.select("vec_id").distinct().count() == corpus.count())
    // …appended rows landed on the STORED centroids' argmin cells
    // (identical to assigning the full corpus under the same centroids)
    val rebuilt = Ann.assign(corpus, model.centroids)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    val stored = grown.assigned
      .collect().map(r => (r.getLong(0), r.getAs[Int]("cell"))).toSet
    assert(stored == rebuilt)
    // …and serving the grown index can surface appended rows as neighbors
    val served = Ann.ivfTopK(spark, queries, grown.assigned, k = 5, nprobe = 4,
      cellCol = "cell", storedCentroids = Some(grown.centroids))
      .collect().map(_.getLong(2)).toSet
    assert(served.exists(_ >= 250L), "no appended row ever surfaced in any top-5")
  }

  test("appendToIndex with screenDim rejects hostile rows at ingest") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val model = Ann.fit(corpus.filter(col("vec_id") < 250), k = 4, iters = 2)
    val dir = tmpDir("annappend_s") + "/idx"
    Ann.writeIndex(model, dir)
    // a NaN vector in the ingest batch: unscreened it would PERSIST into a
    // cell and rank cosine=NaN above every real neighbor forever
    val hostile = spark.sql(
      """SELECT CAST(9000001 AS BIGINT) AS vec_id,
        |  transform(sequence(1, 64), i -> CAST('NaN' AS FLOAT)) AS embedding""".stripMargin)
    Ann.appendToIndex(spark, hostile.unionByName(corpus.filter(col("vec_id") >= 250)),
      dir, screenDim = Some(64))
    val grown = Ann.readIndex(spark, dir)
    assert(grown.assigned.filter(col("vec_id") === 9000001L).count() == 0)
    val served = Ann.ivfTopK(spark, queries, grown.assigned, k = 5, nprobe = 2,
      cellCol = "cell", storedCentroids = Some(grown.centroids)).collect()
    assert(served.forall(r => !r.getDouble(3).isNaN && r.getLong(2) != 9000001L))
  }

  test("fit with screenDim trains only on verdict-ok vectors") {
    // a NaN vector with the LOWEST id would poison seed centroid 0 unscreened
    val hostile = spark.sql(
      """SELECT CAST(-1 AS BIGINT) AS vec_id,
        |  transform(sequence(1, 64), i -> CAST('NaN' AS FLOAT)) AS embedding""".stripMargin)
    val corpus = hostile.unionByName(emb.select(col("vec_id"), col("embedding")))
    val model = Ann.fit(corpus, k = 4, iters = 2, screenDim = Some(64))
    // the hostile row is screened out of both training and assignment…
    assert(model.assigned.filter(col("vec_id") === -1L).count() == 0)
    // …and the trained model equals the hostile-free fit exactly
    val clean = Ann.fit(emb.select(col("vec_id"), col("embedding")), k = 4, iters = 2)
    assert(model.centroids.collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSet ==
      clean.centroids.collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSet)
  }

  private def fsFor(dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("ingestBatch: committed replays are no-ops; partial publishes converge exactly-once") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val model = Ann.fit(corpus.filter(col("vec_id") < 250), k = 4, iters = 2)
    val dir = tmpDir("anningest") + "/idx"
    Ann.writeIndex(model, dir)
    val baseN = Ann.readIndex(spark, dir).assigned.count()
    val batch = corpus.filter(col("vec_id") >= 250 && col("vec_id") < 300)
    val batchN = batch.count()
    assert(Ann.ingestBatch(spark, batch, 0L, dir))
    assert(Ann.readIndex(spark, dir).assigned.count() == baseN + batchN)
    // replay of a COMMITTED batch (checkpoint re-offer after a crash
    // between foreachBatch return and checkpoint commit): ledger no-op
    assert(!Ann.ingestBatch(spark, batch, 0L, dir))
    assert(Ann.readIndex(spark, dir).assigned.count() == baseN + batchN)
    // crash BEFORE the ledger landed, publish partially done: simulate by
    // deleting the ledger marker and one published file — the retry must
    // wipe the batch's deterministic names and re-publish, never duplicate
    val fs = fsFor(dir)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/corpus/_graft_ingest/b0"), false)
    val published = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$dir/corpus/cell=*/ingest-b0-*"))
    assert(published.nonEmpty, "expected deterministic ingest-b0-* names in the cell dirs")
    fs.delete(published.head.getPath, false)
    assert(Ann.ingestBatch(spark, batch, 0L, dir))
    val grown = Ann.readIndex(spark, dir)
    assert(grown.assigned.count() == baseN + batchN)
    assert(grown.assigned.select("vec_id").distinct().count() == baseN + batchN)
    // a distinct batch id appends instead of replacing
    val b1 = corpus.filter(col("vec_id") >= 300 && col("vec_id") < 320)
    assert(Ann.ingestBatch(spark, b1, 1L, dir))
    assert(Ann.readIndex(spark, dir).assigned.count() == baseN + batchN + b1.count())
  }

  test("streamIngest: micro-batches land exactly once; a checkpoint restart re-drains nothing") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val model = Ann.fit(corpus.filter(col("vec_id") < 250), k = 4, iters = 2)
    val dir = tmpDir("annstream") + "/idx"
    Ann.writeIndex(model, dir)
    // stage two mtime-ordered leaf files = two deterministic micro-batches
    val stage = java.nio.file.Paths.get(tmpDir("annstream_src"))
    Seq(corpus.filter(col("vec_id") >= 250 && col("vec_id") < 300),
        corpus.filter(col("vec_id") >= 300 && col("vec_id") < 350))
      .zipWithIndex.foreach { case (df, i) =>
        val raw = tmpDir(s"annstream_raw$i")
        df.coalesce(1).write.mode("overwrite").parquet(raw)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(raw))
        val p = try part.filter(_.toString.endsWith(".parquet")).findFirst().get()
                finally part.close()
        val dst = stage.resolve(s"b$i.parquet")
        java.nio.file.Files.copy(p, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000L * (i + 1)))
      }
    val ckpt = tmpDir("annstream_ckpt")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def drain(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage.toString)
      Ann.streamIngest(src, dir, ckpt).awaitTermination()
    }
    drain()
    val expected = corpus.filter(col("vec_id") < 350).count()
    assert(Ann.readIndex(spark, dir).assigned.count() == expected)
    // both batches ledgered
    val fs = fsFor(dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/corpus/_graft_ingest/b0")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/corpus/_graft_ingest/b1")))
    // RESTART against the same checkpoint: the source re-offers nothing,
    // the index is unchanged — the exactly-once boundary end-to-end
    drain()
    val after = Ann.readIndex(spark, dir)
    assert(after.assigned.count() == expected)
    assert(after.assigned.select("vec_id").distinct().count() == expected)
    // streamed rows sit on the stored centroids' argmin cells, identical
    // to a batch rebuild under the same centroids
    val rebuilt = Ann.assign(corpus.filter(col("vec_id") < 350), model.centroids)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(after.assigned.collect()
      .map(r => (r.getLong(0), r.getAs[Int]("cell"))).toSet == rebuilt)
  }

  test("compactIndex: hot cells collapse; serving is bit-identical; crashed swaps heal") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val model = Ann.fit(corpus.filter(col("vec_id") < 200), k = 4, iters = 2)
    val dir = tmpDir("anncompact") + "/idx"
    Ann.writeIndex(model, dir)
    assert(Ann.ingestBatch(spark, corpus.filter(col("vec_id") >= 200 && col("vec_id") < 300), 0L, dir))
    assert(Ann.ingestBatch(spark, corpus.filter(col("vec_id") >= 300 && col("vec_id") < 400), 1L, dir))
    assert(Ann.ingestBatch(spark, corpus.filter(col("vec_id") >= 400), 2L, dir))
    val servedBefore = Ann.ivfTopK(spark, queries,
      Ann.readIndex(spark, dir).assigned, k = 5, nprobe = 4, cellCol = "cell",
      storedCentroids = Some(Ann.readIndex(spark, dir).centroids))
      .collect().map(_.toString).sorted
    val stats = Ann.compactIndex(spark, dir)
    // the fragmentation (1 base + up to 3 ingest file sets per cell) is gone
    assert(stats.filesBefore > stats.filesAfter,
      s"no reduction: $stats")
    val fs = fsFor(dir)
    val cellDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/corpus"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
    cellDirs.foreach { cd =>
      val n = fs.listStatus(cd.getPath)
        .count(st => !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      // target count at this byte scale is 1; the 2× hysteresis means a
      // cell already at <=2 files is deliberately left alone
      assert(n <= 2, s"${cd.getPath.getName} still holds $n files")
    }
    // row set and serving are unchanged
    val after = Ann.readIndex(spark, dir)
    assert(after.assigned.count() == corpus.count())
    assert(after.assigned.select("vec_id").distinct().count() == corpus.count())
    val servedAfter = Ann.ivfTopK(spark, queries, after.assigned, k = 5,
      nprobe = 4, cellCol = "cell", storedCentroids = Some(after.centroids))
      .collect().map(_.toString).sorted
    assert(servedAfter.toSeq == servedBefore.toSeq)
    // HEAL: simulate a crash between the two swap renames — live dir gone,
    // .old twin present. The next compactIndex restores it before work.
    val victim = cellDirs.head.getPath
    val old = new org.apache.hadoop.fs.Path(victim.getParent, s".${victim.getName}.graft_old")
    assert(fs.rename(victim, old))
    Ann.compactIndex(spark, dir)
    assert(fs.exists(victim), "heal pass failed to restore the crashed cell swap")
    assert(Ann.readIndex(spark, dir).assigned.count() == corpus.count())
    // uncommitted ingest debris (no ledger) is dropped, not folded in:
    // folding would duplicate the rows when the batch's retry re-publishes
    val anyData = fs.listStatus(victim)
      .filter(st => !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .head.getPath
    val debris = new org.apache.hadoop.fs.Path(victim, "ingest-b99-p00000.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, anyData, fs, debris, false,
      spark.sparkContext.hadoopConfiguration)
    assert(Ann.readIndex(spark, dir).assigned.count() > corpus.count()) // debris visible
    Ann.compactIndex(spark, dir)
    assert(!fs.exists(debris), "uncommitted ingest debris survived compaction")
    assert(Ann.readIndex(spark, dir).assigned.count() == corpus.count())
  }

  test("replaceIndex: readers resolve the newest COMPLETE version; prune reclaims the rest") {
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val dir = tmpDir("annreplace") + "/idx"
    Ann.writeIndex(Ann.fit(corpus, k = 4, iters = 2), dir)
    assert(Ann.readIndex(spark, dir).centroids.count() == 4)
    // replace with a k=3 re-fit: readers must see the new generation
    Ann.replaceIndex(spark, Ann.fit(corpus, k = 3, iters = 2), dir)
    assert(Ann.currentRoot(spark, dir) == s"$dir/v1")
    assert(Ann.readIndex(spark, dir).centroids.count() == 3)
    // an INCOMPLETE version (crashed mid-write: dir exists, no _complete
    // marker) is invisible — readers stay on v1
    val fs = fsFor(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/v7/corpus"))
    assert(Ann.currentRoot(spark, dir) == s"$dir/v1")
    assert(Ann.readIndex(spark, dir).centroids.count() == 3)
    // the next replace supersedes the crashed number rather than reusing it
    Ann.replaceIndex(spark, Ann.fit(corpus, k = 2, iters = 2), dir)
    assert(Ann.currentRoot(spark, dir) == s"$dir/v8")
    assert(Ann.readIndex(spark, dir).centroids.count() == 2)
    // appends land in the CURRENT version
    val extra = spark.sql(
      """SELECT CAST(900001 AS BIGINT) AS vec_id,
        |  transform(sequence(1, 64), i -> CAST('0.5' AS FLOAT)) AS embedding""".stripMargin)
    Ann.appendToIndex(spark, extra, dir)
    assert(Ann.readIndex(spark, dir).assigned.filter(col("vec_id") === 900001L).count() == 1)
    // prune: superseded versions and the shadowed flat layout reclaimed,
    // the current generation intact
    Ann.pruneIndexVersions(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/corpus")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v8")))
    assert(Ann.readIndex(spark, dir).assigned.count() == corpus.count() + 1)
  }

  test("replaceIndex carries the ingest ledger: a cross-generation replay stays a no-op") {
    // the compound crash: batch 0 publishes + ledgers, the stream dies
    // BEFORE its checkpoint commits, the operator re-fits + replaces the
    // index (the rebuilt corpus CONTAINS batch 0's rows), then the stream
    // restarts and re-offers batch 0. Without the carried ledger the new
    // generation would publish those rows a second time.
    val corpus = emb.select(col("vec_id"), col("embedding"))
    val model = Ann.fit(corpus.filter(col("vec_id") < 250), k = 4, iters = 2)
    val dir = tmpDir("annledger") + "/idx"
    Ann.writeIndex(model, dir)
    val batch = corpus.filter(col("vec_id") >= 250 && col("vec_id") < 300)
    assert(Ann.ingestBatch(spark, batch, 0L, dir))
    val grownCorpus = Ann.readIndex(spark, dir).assigned.drop("cell")
    val n = grownCorpus.count()
    Ann.replaceIndex(spark, Ann.fit(grownCorpus, k = 4, iters = 2), dir)
    // the replay against the NEW generation is a ledger no-op
    assert(!Ann.ingestBatch(spark, batch, 0L, dir))
    assert(Ann.readIndex(spark, dir).assigned.count() == n)
    assert(Ann.readIndex(spark, dir).assigned
      .select("vec_id").distinct().count() == n)
  }

  test("recallDrift: drifted ingest degrades stored recall; re-fit + replace restores it") {
    import spark.implicits._
    val dim = 8
    def jitter(m: Int, d: Int): Double = ((m * 13 + d * 29) % 7) * 0.001
    // base: two tight clusters on e1 (ids 3m) and e2 (ids 3m+1) — the two
    // lowest ids seed one per cluster, so fit(k=2) trains centroids ~e1, ~e2
    val baseRows = for (m <- 0 until 40; axis <- 0 to 1) yield {
      val v = Array.tabulate(dim)(d =>
        ((if (d == axis) 1.0 else 0.0) + jitter(m, d)).toFloat)
      ((m * 3 + axis).toLong, v)
    }
    // drifted ingest: a NEW cluster near (e1+e2)/√2, planted to STRADDLE
    // the stale A/B bisector — members come in pairs (p) whose two members
    // differ only by a ±0.004 flip on dims 0/1 (opposite stale cells) and
    // a tie-break epsilon, so each member's true nearest neighbor is its
    // pair partner, ALWAYS across the stale boundary
    val cRows = (0 until 40).map { m =>
      val p = m / 2; val parity = m % 2
      val flip = if (parity == 0) 0.004 else -0.004
      val v = Array.tabulate(dim) { d =>
        val x =
          if (d == 0) 0.70 + flip
          else if (d == 1) 0.70 - flip
          else ((p * 31 + d * 17) % 11) * 0.05 +
            (if (parity == 1 && d == 7) 0.0005 else 0.0)
        x.toFloat
      }
      ((m * 3 + 2).toLong, v)
    }
    val base = baseRows.toDF("vec_id", "embedding")
    val drifted = cRows.toDF("vec_id", "embedding")
    val dir = tmpDir("anndrift") + "/idx"
    Ann.writeIndex(Ann.fit(base, k = 2, iters = 2), dir)
    Ann.appendToIndex(spark, drifted, dir)
    val probes = drifted.filter(col("vec_id") <= 11)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // stale 2-cell index, nprobe=1: a probe only sees its own side of the
    // straddled cluster — recall measurably below a k=3 re-fit, which
    // gives the new cluster its own cell (seeds = ids 0, 1, 2 → one per
    // cluster) and recovers everything
    val d0 = Ann.recallDrift(spark, dir, probes, refitK = 3, nprobe = 1)
    assert(d0.recallRefit >= 0.9, s"refit recall ${d0.recallRefit}")
    assert(d0.drift >= 0.2,
      s"planted drift not measured: stored=${d0.recallStored} refit=${d0.recallRefit}")
    // the maintenance loop recallDrift exists to trigger: re-fit the
    // index's own corpus, replaceIndex, and the drift is gone
    val corpus = Ann.readIndex(spark, dir).assigned.drop("cell")
    Ann.replaceIndex(spark, Ann.fit(corpus, k = 3, iters = 2), dir)
    val d1 = Ann.recallDrift(spark, dir, probes, refitK = 3, nprobe = 1)
    assert(d1.recallStored >= 0.9, s"post-replace stored recall ${d1.recallStored}")
    assert(math.abs(d1.drift) <= 0.05, s"post-replace drift ${d1.drift}")
  }

  test("assign fails loudly on a dimension-mismatched row instead of null-assigning it") {
    // unscreened, a 3-component vector null-pads inside zip_with: every
    // distance null → null cell → silently persisted under the default
    // partition if this reached appendToIndex (r14 advice). It must raise.
    val model = Ann.fit(emb.select(col("vec_id"), col("embedding")), k = 4, iters = 1)
    val bad = spark.sql(
      """SELECT CAST(7000001 AS BIGINT) AS vec_id,
        |  transform(sequence(1, 3), i -> CAST('1.0' AS FLOAT)) AS embedding""".stripMargin)
    val ex = intercept[Throwable] {
      Ann.assign(bad, model.centroids).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("dimension mismatch")),
      s"expected a dimension-mismatch error, got: ${messages(ex).mkString(" | ")}")
    // the same row under screenDim is FILTERED, not raised — the screen
    // removes wrong-dimension rows before the kernel ever runs
    val screened = Ann.fit(
      bad.unionByName(emb.select(col("vec_id"), col("embedding"))),
      k = 4, iters = 1, screenDim = Some(64))
    assert(screened.assigned.filter(col("vec_id") === 7000001L).count() == 0)
  }

  test("ivf with nprobe=2 searches only probed cells") {
    val res = Ann.ivfTopK(spark, queries, emb, k = 5, nprobe = 2)
    val withLabel = res.join(emb.select(col("vec_id").as("neighbor"), col("label")), "neighbor")
    val labelsPerQ = withLabel.groupBy("q_id")
      .agg(countDistinct("label").as("nl")).collect()
    assert(labelsPerQ.forall(_.getLong(1) <= 2))
  }
}
