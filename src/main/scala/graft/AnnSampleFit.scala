package graft

import org.apache.spark.sql.functions._

import graft.ops.Ann

/** Measures the documented beyond-one-box ANN training composition — fit on
  * a uniform SAMPLE, assign the FULL corpus in one narrow pass (Ann.fit's
  * scaladoc; algebra pinned in AnnSpec) — against the full-corpus fit, at
  * whatever data dir it is pointed at. SCALE.md runs it at the 100×
  * synthetic: the claim under measurement is that sampling the Lloyd
  * iterations (the only multi-scan part of training) costs little recall,
  * because Lloyd centroids are means and sampling error is O(1/√s).
  *
  * Reports, as one JSON line: corpus size, wall time of the full fit vs
  * the sampled fit and the full-corpus assignment pass, and recall@5 of
  * nprobe-probed serving under each model against the exact brute-force
  * truth over a fixed 10-query probe set.
  *
  * Usage: runMain graft.AnnSampleFit <dataDir> [k] [sampleMod] [nprobe]
  */
object AnnSampleFit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AnnSampleFit <dataDir> [k] [sampleMod] [nprobe]")
    val dir = args(0)
    val k = args.lift(1).map(_.toInt).getOrElse(16)
    val sampleMod = args.lift(2).map(_.toInt).getOrElse(10)
    val nprobe = args.lift(3).map(_.toInt).getOrElse(4)
    val spark = SessionConf.local()

    // dir = "clustered:<n>" synthesizes a deterministic 16-cluster corpus
    // (center c lights dims 4c..4c+3; members add a small integer-formula
    // jitter) — the geometry real embedding tables have and the uniform
    // random testdata deliberately lacks. Together the two modes bracket
    // the sample-fit claim: clustered = the expected case (sample means
    // converge to cluster means), testdata = the adversarial bound (every
    // point is boundary mass, so centroid perturbation costs recall).
    val corpus =
      if (dir.startsWith("clustered:")) {
        val nSynth = dir.stripPrefix("clustered:").toLong
        spark.range(nSynth).selectExpr("id AS vec_id",
          """transform(sequence(0, 63), d -> CAST(
            |  (CASE WHEN d >= (id % 16) * 4 AND d < (id % 16) * 4 + 4
            |        THEN 1.0 ELSE 0.0 END)
            |  + ((id * 13 + d * 29) % 7) * 0.01 AS FLOAT)) AS embedding""".stripMargin)
      } else Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val n = corpus.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val (fullModel, tFull) = timed {
      val m = Ann.fit(corpus, k, iters = 2)
      m.assigned.foreach(_ => ()) // materialize the final assignment pass
      m
    }
    val (sampleModel, tSampleFit) = timed {
      // hash-based 1/sampleMod selection: id-modulo sampling can ALIAS
      // with id-structured data (the 100× synthetic offsets copies by a
      // multiple of 10, so vec_id % 10 picks copies of the same base
      // rows) — hashing makes the sample uniform regardless of layout
      Ann.fit(corpus.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0),
        k, iters = 2)
    }
    val (sampleAssigned, tAssign) = timed {
      val a = Ann.assign(corpus, sampleModel.centroids)
      a.foreach(_ => ())
      a
    }

    val (rFull, rSample) = graft.ops.Lineage.pinned(Ann.bruteTopK(queries, corpus, k = 5)
        .select(col("q_id"), col("neighbor"))) { truth =>
      val tot = truth.count()
      def recall(assigned: org.apache.spark.sql.DataFrame,
                 cents: org.apache.spark.sql.DataFrame): Double =
        Ann.ivfTopK(spark, queries, assigned, k = 5, nprobe = nprobe,
          cellCol = "cell", storedCentroids = Some(cents))
          .select(col("q_id"), col("neighbor"))
          .join(truth, Seq("q_id", "neighbor"), "left_semi")
          .count().toDouble / tot
      (recall(fullModel.assigned, fullModel.centroids),
        recall(sampleAssigned, sampleModel.centroids))
    }
    // cell balance context: on unclustered data Lloyd cells can collapse
    // (empty cells drop), which dominates what recall@nprobe means — report
    // the surviving cell count and the biggest cell's corpus share so the
    // recall numbers are interpretable
    def balance(assigned: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val sizes = assigned.groupBy(col("cell")).count()
        .collect().map(_.getLong(1))
      (sizes.length.toLong, sizes.max.toDouble / n)
    }
    val (cellsFull, topFull) = balance(fullModel.assigned)
    val (cellsSample, topSample) = balance(sampleAssigned)

    println(s"""{"metric":"ann_sample_fit","dir":"$dir","n_corpus":$n,""" +
      s""""k":$k,"sample_mod":$sampleMod,"nprobe":$nprobe,""" +
      f""""fit_full_sec":$tFull%.1f,"fit_sample_sec":$tSampleFit%.1f,""" +
      f""""assign_full_sec":$tAssign%.1f,""" +
      f""""recall5_full":$rFull%.3f,"recall5_sample":$rSample%.3f,""" +
      s""""cells_full":$cellsFull,"cells_sample":$cellsSample,""" +
      f""""top_cell_share_full":$topFull%.3f,"top_cell_share_sample":$topSample%.3f}""")
    spark.stop()
  }
}
