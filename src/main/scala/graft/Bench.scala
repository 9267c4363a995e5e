package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR.
  *
  * Output contract (driver-parseable): ONE COMPACT JSON line on stdout —
  * total/unit/sf plus a headline per-query subset — and the FULL per-query
  * map written to $BENCH_OUT (default /root/repo/BENCH_OUT.json). Two
  * constraints shape this, both learned from dark bench gates:
  *   - r1: sbt prefixes stdout with "[info] ", so the file copy exists;
  *   - r2/r3: the driver keeps only the LAST ~2000 chars of stdout, and the
  *     full 85-query map is ~2.3 KB, so the head of the line (with
  *     "metric"/"value") was truncated away and parse returned null. The
  *     stdout line is therefore capped well under the tail window (sbt's
  *     trailing "[success] Total time..." line shares it).
  * Failures are not swallowed: failed queries land in an "errors" map (both
  * outputs) and the process exits nonzero.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("BENCH_OUT", "/root/repo/BENCH_OUT.json")
    // optional args: bench only these queries (dev feedback loop). Unknown
    // names fail loudly BEFORE the session build and warm-up — a typo must
    // not cost a Spark startup nor overwrite $BENCH_OUT with an
    // empty-but-green artifact.
    val only = args.toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = SessionConf.local()

    warmUp(spark, sfDir)

    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }

    // Load telemetry: the official r7/r8 artifacts were dominated by sandbox
    // contention (q3_join "30.2 s" official vs 1.5 s idle). Recording the
    // 1/5/15-min load averages at sweep start and end lets a consumer tell a
    // loaded run from a code regression without access to the machine.
    def loadavg(): String =
      try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" ")
      catch { case scala.util.control.NonFatal(_) => "" }
    val loadStart = loadavg()

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val spreads = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // Each query is timed from a clean cache. No query leaves a
      // CacheManager entry behind (graft.ops.Lineage; RegistrySpec checks
      // every query), so the clearCache is a guard: a leaked entry would
      // accumulate across the sweep and its GC pressure would land on
      // whichever query runs when the heap fills (r2: one 0.7s query
      // measured at 24.6s).
      def once(): Double = {
        spark.catalog.clearCache()
        // Cross-query memos (the unigram lattice) are cleared per SAMPLE,
        // not per query: best-of-N otherwise publishes a memo hit as the
        // query's cost (r12 advice, medium — q_unigram_lm "0.029 s" vs its
        // real 4.7 s).
        graft.queries.LearnQueries.clearMemo()
        val t0 = System.nanoTime()
        fn(spark, sfDir).foreach(_ => ()) // full materialization, no collect
        (System.nanoTime() - t0) / 1e9
      }
      try {
        // Best-of-N: a single sample cannot distinguish machine load from a
        // regression (r7/r8 lesson). Two runs for everything; a third for
        // batch queries whose best is still >2s (the ones that dominate the
        // total and so most need a trustworthy floor). Streaming queries stay
        // at two runs — their cost is micro-batch trigger overhead, which
        // repeats identically and doesn't shrink with retries.
        val two = Vector(once(), once())
        val runs =
          if (two.min > 2.0 && !name.startsWith("q_stream")) two :+ once() else two
        timings(name) = runs.min
        spreads(name) = runs.max - runs.min
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
      }
    }
    val loadEnd = loadavg()
    def qsJson(m: collection.Map[String, Double]): String =
      m.map { case (k, v) => s""""${esc(k)}":${f"$v%.3f"}""" }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    val total = timings.values.sum
    // Streaming queries pay a multi-second fixed micro-batch/trigger cost per
    // run; lumping them into one total masks batch regressions. Split totals
    // so each can be compared round-over-round on its own terms.
    val streamingTotal = timings.collect { case (k, v) if k.startsWith("q_stream") => v }.sum
    val batchTotal = total - streamingTotal
    val meta =
      s""""batch_total":${f"$batchTotal%.3f"},"streaming_total":${f"$streamingTotal%.3f"},""" +
      // the EXPECTED-set size, from the JVM that owns the registry:
      // bench_min.py checks timed-vs-expected so a query silently dropped
      // from the registry (or never reached by a crashed sweep) deflates no
      // artifact unseen. A deliberate `only` subset run stamps the SUBSET
      // size (plus a flag) — stamping the full registry there made a dev
      // subset artifact indistinguishable from mass query loss (r14 advice).
      s""""n_registered":${if (only.nonEmpty) only.size else SparkEntry.queries.size},""" +
      s""""subset":${only.nonEmpty},""" +
      s""""loadavg_start":"${esc(loadStart)}","loadavg_end":"${esc(loadEnd)}""""
    def line(qs: collection.Map[String, Double]): String =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec",$meta,"queries":${qsJson(qs)},"errors":$errs,"sf":"${esc(sfDir)}","detail":"${esc(out)}"}"""
    // Full detail → file (driver and humans can read it whole), including the
    // per-query run-to-run spread (max-min over the best-of-N runs): a large
    // spread marks a timing as load-contaminated.
    val fileLine =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec",$meta,"queries":${qsJson(timings)},"variance":${qsJson(spreads)},"errors":$errs,"sf":"${esc(sfDir)}","detail":"${esc(out)}"}"""
    Files.writeString(Paths.get(out), fileLine + "\n")
    // Stdout → compact headline subset, one per plan family, hard-capped so
    // the line survives the driver's 2000-char stdout tail. If headliners
    // are missing (e.g. a filtered dev run) fall back to whatever was timed,
    // trimming from the end until the cap holds.
    val headliners = Vector(
      "q1_agg", "q3_join", "q5_multi_join", "q_left_join_agg", "q_window_rank",
      "q_topk", "q_set_ops", "q_rollup", "q_json_fns", "q_exists_subquery",
      "q_dedup_exact", "q_minhash_lsh", "q_embedding_neardup", "q_cosine_topk",
      "q_ann_fullprobe", "q_text_stats", "q_tfidf", "q_stream_tumbling",
      "q_dedup_clusters", "q_range_join", "q_edit_distance", "q_interval_join",
      "q_ann_ivf_kernel", "q_bpe_merges", "q_substring_dup", "q_triangles",
      "q_pca_power", "q_semdedup", "q_dsir_weights", "q_auc",
      "q_image_decode", "q_multimodal", "q_url_parse", "q_rouge_overlap")
    val picked = {
      val head = headliners.filter(timings.contains)
      if (head.nonEmpty) head else timings.keys.toVector
    }
    val capped = Iterator.iterate(picked)(_.dropRight(1))
      .map(ks => line(scala.collection.immutable.ListMap(ks.map(k => k -> timings(k)): _*)))
      .find(_.length <= 1500)
      .getOrElse(line(Map.empty))
    println(capped)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries failed: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Warm the session (JVM, whole-stage codegen, parquet reader) outside
    * any per-query timing — otherwise the alphabetically-first query
    * absorbs all one-time compile cost. r2 showed aggregate warm-up alone
    * is not enough: the first query to run a shuffled join (q10_returns)
    * still paid ~5s of exchange/join codegen. Warm each major plan family
    * (agg, join, window, explode) on the tiny sf0.001 tables, then read
    * `sfDir`'s lineitem once. Bench and Probe call it before timing. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    SparkEntry.entry(spark).foreach(_ => ())
    // prefer the smallest sf for cheap warm-up; fall back to the bench dir
    // so the warm-up still happens (slower, but honest timings beat a
    // silently skipped warm-up) on hosts with a different data layout
    val warmSf =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/root/testdata/sf0.001")))
        "/root/testdata/sf0.001"
      else {
        // visible marker: warming on the bench data itself page-caches the
        // files the timed sweep re-reads, mildly favoring the three warmed
        // queries — a consumer comparing per-query numbers should know
        System.err.println(s"[bench] warm-up fallback: sf0.001 absent, warming on $sfDir")
        sfDir
      }
    Seq("q3_join", "q_window_rank", "q_array_explode").foreach { q =>
      SparkEntry.queries.get(q).foreach(fn =>
        try fn(spark, warmSf).foreach(_ => ())
        catch { case scala.util.control.NonFatal(_) => () })
    }
    spark.catalog.clearCache()
    Tables.lineitem(spark, sfDir).count()
  }
}
