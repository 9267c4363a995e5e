package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.PrefixSum
import graft.queries.Exact._

/** Model-evaluation and data-selection operators — the measurement half of
  * a training-data pipeline (the production half is DedupQueries/
  * TextQueries/SimilarityQueries). Five classics, each in its scalable
  * Spark shape and each DuckDB-oracle-gated with exact arithmetic:
  *
  *  - DSIR importance weights (Xie et al. 2023): per-document target/corpus
  *    unigram log-likelihood ratio — THE data-selection score for steering
  *    a pretraining mixture toward a target domain.
  *  - ROC AUC as the Mann-Whitney U statistic — threshold-free quality of
  *    any numeric score against a binary label; tie-correct (average
  *    ranks), no per-row global sort: counts aggregate per DISTINCT score
  *    and the cumulative pass runs over that (small) table via
  *    [[graft.ops.PrefixSum]], so no unpartitioned Window node exists at
  *    any scale.
  *  - Per-class precision/recall/F1 from a confusion matrix (here: the
  *    q_lang_id heuristic vs the labeled lang column) — classifier QA.
  *  - Two-sample Kolmogorov–Smirnov distance between per-source document
  *    length distributions — distribution drift as a max-of-ECDF-gaps,
  *    complementing q_source_drift's KL divergence. Integer-exact via
  *    cross-multiplication: D's numerator max|ca·nb − cb·na| never divides.
  *  - One batch perceptron epoch (Rosenblatt rule) over int8-quantized
  *    embeddings — integer end-to-end, so the learning step itself (not a
  *    float approximation of it) is what the oracle gates.
  *
  * None of these exist in the reference (no aggregation surface at all —
  * /root/reference/bert/etl/functools.py memoizes single values; SURVEY
  * §2.9 documents the verified absence); they are north-star additions in
  * the sense of SURVEY §2.9 R14.
  */
object EvalQueries {

  /** DSIR-style importance weight per document: log of the unigram
    * likelihood ratio P_target(doc)/P_corpus(doc), target = the English
    * slice, both models Laplace(+1)-smoothed over the SHARED corpus
    * vocabulary (so the ratio is defined for every token). Every log is
    * LN of an integer count — per-term doubles are engine-identical, each
    * term is cast to DECIMAL(28,14) and summed (order-independent): the
    * q_perplexity exactness recipe. Scale: the vocabulary LM table is
    * corpus-frequency sparse (broadcast here, shuffle join keyed on the
    * token at web scale); the scalar totals ride the vocab table as ONE
    * broadcast row, and the corpus-sized join carries a single decimal
    * column.
    */
  def qDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
    val cc = tok.groupBy(col("tok")).agg(count(lit(1)).as("cc"))
    val ct = tok.filter(col("lang") === "en")
      .groupBy(col("tok")).agg(count(lit(1)).as("ct"))
    val lm = cc.join(ct, Seq("tok"), "left").na.fill(0L, Seq("ct"))
    val scal = lm.agg(sum(col("cc")).cast("bigint").as("nc"),
      sum(col("ct")).cast("bigint").as("nt"), count(lit(1)).as("v"))
    val lm2 = lm.crossJoin(broadcast(scal)).withColumn("term", expr(
      """CAST(CAST(LN(CAST(ct + 1 AS DOUBLE)) - LN(CAST(nt + v AS DOUBLE))
        |     - LN(CAST(cc + 1 AS DOUBLE)) + LN(CAST(nc + v AS DOUBLE)) AS DOUBLE)
        |  AS DECIMAL(28,14))""".stripMargin))
      .select(col("tok"), col("term"))
    tok.join(broadcast(lm2), "tok")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("term")).cast("double").as("lw"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        r6(col("lw")).as("log_weight"))
  }

  val qDsirWeightsSql: String =
    """WITH tok AS (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok
      |             FROM documents),
      |cc AS (SELECT tok, COUNT(*) AS cc FROM tok GROUP BY tok),
      |ct AS (SELECT tok, COUNT(*) AS ct FROM tok WHERE lang = 'en' GROUP BY tok),
      |lm AS (SELECT tok, cc, COALESCE(ct, 0) AS ct FROM cc LEFT JOIN ct USING (tok)),
      |sc AS (SELECT CAST(SUM(cc) AS BIGINT) AS nc, CAST(SUM(ct) AS BIGINT) AS nt,
      |              COUNT(*) AS v FROM lm),
      |t AS (SELECT tok,
      |        CAST(CAST(LN(CAST(ct + 1 AS DOUBLE)) - LN(CAST(nt + v AS DOUBLE))
      |             - LN(CAST(cc + 1 AS DOUBLE)) + LN(CAST(nc + v AS DOUBLE)) AS DOUBLE)
      |          AS DECIMAL(28,14)) AS term
      |      FROM lm, sc)
      |SELECT doc_id, lang, COUNT(*) AS n_tokens,
      |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS log_weight
      |FROM tok JOIN t USING (tok) GROUP BY doc_id, lang""".stripMargin

  /** ROC AUC of a score column against a binary label, as the (tie-
    * corrected) Mann-Whitney U: with per-distinct-score positive/negative
    * counts (np, nn) and cnn = cumulative negatives up to and including
    * this score, 2U = Σ np·(2·(cnn − nn) + nn) — concordant pairs count 2,
    * tied pairs 1 — and AUC = 2U / (2·n_pos·n_neg). The numerator is
    * gated as an exact BIGINT; the only division is the final one. Score =
    * first embedding dimension, label = class < 5 (a deliberately weak
    * signal: AUC lands near 0.5 with plenty of distinct-score ties).
    * Scale: one corpus hash-aggregate to distinct scores, then the
    * cumulative pass over the aggregated table via PrefixSum — no
    * unpartitioned window, no per-row rank.
    */
  def qAuc(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(
      expr("CAST(element_at(embedding, 1) AS DOUBLE)").as("score"),
      when(col("label") < 5, 1L).otherwise(0L).as("is_pos"))
    val g = e.groupBy(col("score")).agg(
      sum(col("is_pos")).as("np"), sum(lit(1L) - col("is_pos")).as("nn"))
    val c = PrefixSum.cumsum(g, col("nn"), Seq(col("score")), "cnn")
    c.agg(sum(col("np")).cast("bigint").as("n_pos"),
        sum(col("nn")).cast("bigint").as("n_neg"),
        sum(col("np") * (lit(2L) * (col("cnn") - col("nn")) + col("nn")))
          .cast("bigint").as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        expr("""ROUND(CAST(u2 AS DOUBLE) /
               |  (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)""".stripMargin)
          .as("auc"))
  }

  val qAucSql: String =
    """WITH e AS (SELECT CAST(embedding[1] AS DOUBLE) AS score,
      |        CASE WHEN label < 5 THEN 1 ELSE 0 END AS is_pos FROM embeddings),
      |g AS (SELECT score, SUM(is_pos) AS np, SUM(1 - is_pos) AS nn
      |      FROM e GROUP BY score),
      |c AS (SELECT np, nn,
      |        SUM(nn) OVER (ORDER BY score
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnn
      |      FROM g)
      |SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
      |  CAST(SUM(np * (2 * (cnn - nn) + nn)) AS BIGINT) AS u2,
      |  ROUND(CAST(SUM(np * (2 * (cnn - nn) + nn)) AS DOUBLE) /
      |    (2.0 * CAST(SUM(np) AS DOUBLE) * CAST(SUM(nn) AS DOUBLE)), 6) AS auc
      |FROM c""".stripMargin

  /** Per-class precision / recall / F1 of the q_lang_id stopword heuristic
    * against the labeled lang column — the confusion-matrix rollup every
    * classifier-in-the-loop pipeline (quality filters, lang routers) needs
    * next to its raw confusion counts. tp/fp/fn are exact BIGINTs; each
    * metric is one final IEEE division (F1 via the division-free identity
    * 2tp/(2tp+fp+fn), so no previously-rounded value feeds another). A
    * class never predicted gets NULL precision (0/0), not a fake 0.
    */
  def qClassifierMetrics(s: SparkSession, dir: String): DataFrame = {
    val p = TextQueries.langVote(Tables.documents(s, dir), col("lang"))
    val conf = p.groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("n"))
    val a = conf.groupBy(col("lang").as("cls")).agg(
      sum(when(col("predicted") === col("lang"), col("n")).otherwise(0L)).as("tp"),
      sum(when(col("predicted") =!= col("lang"), col("n")).otherwise(0L)).as("fn"))
    val b = conf.filter(col("predicted") =!= col("lang"))
      .groupBy(col("predicted").as("cls")).agg(sum(col("n")).as("fp"))
    a.join(b, Seq("cls"), "full_outer").na.fill(0L, Seq("tp", "fn", "fp"))
      .select(col("cls"),
        col("tp").cast("bigint").as("tp"),
        col("fp").cast("bigint").as("fp"),
        col("fn").cast("bigint").as("fn"),
        expr("""CASE WHEN tp + fp = 0 THEN NULL
               |  ELSE ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END""".stripMargin)
          .as("precision"),
        expr("""CASE WHEN tp + fn = 0 THEN NULL
               |  ELSE ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END""".stripMargin)
          .as("recall"),
        expr("""CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
               |  ELSE ROUND(CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE), 6) END""".stripMargin)
          .as("f1"))
  }

  val qClassifierMetricsSql: String =
    """WITH scored AS (
      |  SELECT lang,
      |    len(list_filter(string_split(text,' '), x -> x IN ('the','and','of','is'))) AS s_en,
      |    len(list_filter(string_split(text,' '), x -> x IN ('der','die','und','ist'))) AS s_de,
      |    len(list_filter(string_split(text,' '), x -> x IN ('le','la','et','est'))) AS s_fr,
      |    len(list_filter(string_split(text,' '), x -> x IN ('el','la','y','es'))) AS s_es
      |  FROM documents),
      |p AS (SELECT lang,
      |    CASE WHEN s_en >= GREATEST(s_de, s_fr, s_es) THEN 'en'
      |         WHEN s_de >= GREATEST(s_fr, s_es) THEN 'de'
      |         WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS predicted
      |  FROM scored),
      |conf AS (SELECT lang, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2),
      |a AS (SELECT lang AS cls,
      |    CAST(SUM(CASE WHEN predicted = lang THEN n ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(SUM(CASE WHEN predicted <> lang THEN n ELSE 0 END) AS BIGINT) AS fn
      |  FROM conf GROUP BY 1),
      |b AS (SELECT predicted AS cls, CAST(SUM(n) AS BIGINT) AS fp
      |  FROM conf WHERE predicted <> lang GROUP BY 1),
      |j AS (SELECT cls, COALESCE(tp, 0) AS tp, COALESCE(fp, 0) AS fp,
      |        COALESCE(fn, 0) AS fn
      |  FROM a FULL OUTER JOIN b USING (cls))
      |SELECT cls, tp, fp, fn,
      |  CASE WHEN tp + fp = 0 THEN NULL
      |    ELSE ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END AS precision,
      |  CASE WHEN tp + fn = 0 THEN NULL
      |    ELSE ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END AS recall,
      |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
      |    ELSE ROUND(CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE), 6) END AS f1
      |FROM j""".stripMargin

  /** Two-sample Kolmogorov–Smirnov distance between the English and German
    * document-length distributions: D = max_x |ECDF_en(x) − ECDF_de(x)|,
    * the standard drift alarm between two corpus slices (ingestion today
    * vs yesterday, source A vs B). Integer-exact: both ECDFs are
    * cumulative counts over the UNION of observed lengths, the max runs
    * over |cca·nb − ccb·na| (BIGINT — cross-multiplied, never divided),
    * and only the final reported D divides. Scale: per-length counts are
    * one corpus hash-aggregate; the cumulative pass runs over the distinct
    * -lengths table via PrefixSum (no unpartitioned window); the two
    * scalar totals join as ONE broadcast row.
    */
  def qKsTest(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).filter(col("lang").isin("en", "de"))
    val g = d.groupBy(col("n_chars")).agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ca"),
      sum(when(col("lang") === "de", 1L).otherwise(0L)).as("cb"))
    val c1 = PrefixSum.cumsum(g, col("ca"), Seq(col("n_chars")), "cca")
    val c2 = PrefixSum.cumsum(c1, col("cb"), Seq(col("n_chars")), "ccb")
    val scal = g.agg(sum(col("ca")).cast("bigint").as("na"),
      sum(col("cb")).cast("bigint").as("nb"))
    c2.crossJoin(broadcast(scal))
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        max(abs(col("cca") * col("nb") - col("ccb") * col("na")))
          .cast("bigint").as("d_numer"))
      .select(col("na"), col("nb"), col("d_numer"),
        expr("""ROUND(CAST(d_numer AS DOUBLE) /
               |  (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)""".stripMargin)
          .as("ks_d"))
  }

  val qKsTestSql: String =
    """WITH d AS (SELECT n_chars, lang FROM documents WHERE lang IN ('en', 'de')),
      |g AS (SELECT n_chars,
      |        SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca,
      |        SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS cb
      |      FROM d GROUP BY n_chars),
      |c AS (SELECT ca, cb,
      |        SUM(ca) OVER (ORDER BY n_chars
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
      |        SUM(cb) OVER (ORDER BY n_chars
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb
      |      FROM g),
      |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      |      FROM g)
      |SELECT na, nb,
      |  CAST(MAX(ABS(cca * nb - ccb * na)) AS BIGINT) AS d_numer,
      |  ROUND(CAST(MAX(ABS(cca * nb - ccb * na)) AS DOUBLE) /
      |    (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS ks_d
      |FROM c, t GROUP BY na, nb""".stripMargin

  /** One batch perceptron epoch over int8-quantized embeddings (y = ±1 for
    * label < 5): w1 = Σ y·x (the first batch update from w0 = 0, where
    * every margin is 0 ≤ 0 i.e. misclassified), then w2 = w1 +
    * Σ_{y·(w1·x) ≤ 0} y·x — the Rosenblatt rule with the whole batch
    * applied at once. Quantization reuses q_quantize's proven
    * engine-identical ROUND(x·127/maxabs) spelling, so every weight,
    * margin, and update is INTEGER arithmetic end-to-end — the oracle
    * gates the learning step itself, not a float echo of it. Scale: two
    * corpus passes (one per epoch); the d-row weight vector broadcasts;
    * per-dimension partial sums are map-side combined; nothing but the
    * d-row weight table ever sits on the driver side of a broadcast.
    */
  def qPerceptronStep(s: SparkSession, dir: String): DataFrame = {
    val maxabs =
      "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"
    val qvec =
      s"""transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) *
         |  (CASE WHEN ($maxabs) = 0.0D THEN 0.0D ELSE 127.0D / ($maxabs) END), 0) AS INT))""".stripMargin
    val ex = Tables.embeddings(s, dir)
      .withColumn("y", when(col("label") < 5, 1).otherwise(-1))
      .select(col("vec_id"), col("y"), posexplode(expr(qvec)).as(Seq("i", "v")))
    val w1 = ex.groupBy(col("i")).agg(sum(col("y") * col("v")).cast("bigint").as("w1"))
    val margins = ex.join(broadcast(w1), "i")
      .groupBy(col("vec_id"), col("y"))
      .agg(sum(col("w1") * col("v")).cast("bigint").as("dot"))
    val mis = margins.filter(col("y") * col("dot") <= 0).select(col("vec_id"))
    val dw = ex.join(mis, "vec_id")
      .groupBy(col("i")).agg(sum(col("y") * col("v")).cast("bigint").as("dw"))
    w1.join(dw, Seq("i"), "left").na.fill(0L, Seq("dw"))
      .select(col("i"), col("w1"), (col("w1") + col("dw")).as("w2"))
  }

  val qPerceptronStepSql: String =
    """WITH m AS (SELECT vec_id, CASE WHEN label < 5 THEN 1 ELSE -1 END AS y,
      |        list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma,
      |        embedding
      |      FROM embeddings),
      |q AS (SELECT vec_id, y,
      |        list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) *
      |          (CASE WHEN ma = 0.0 THEN 0.0 ELSE 127.0 / ma END), 0) AS INT)) AS qv
      |      FROM m),
      |e AS (SELECT vec_id, y, CAST(i - 1 AS INT) AS i, qv[CAST(i AS INT)] AS v
      |      FROM q, UNNEST(range(1, len(qv) + 1)) AS u(i)),
      |w1 AS (SELECT i, CAST(SUM(y * v) AS BIGINT) AS w1 FROM e GROUP BY i),
      |mg AS (SELECT e.vec_id, e.y, CAST(SUM(w1.w1 * e.v) AS BIGINT) AS dot
      |       FROM e JOIN w1 USING (i) GROUP BY e.vec_id, e.y),
      |mis AS (SELECT vec_id FROM mg WHERE y * dot <= 0),
      |dw AS (SELECT i, CAST(SUM(y * v) AS BIGINT) AS dw
      |       FROM e JOIN mis USING (vec_id) GROUP BY i)
      |SELECT i, w1, w1 + COALESCE(dw, 0) AS w2
      |FROM w1 LEFT JOIN dw USING (i)""".stripMargin

  /** NDCG@10 of the exact cosine ranking against class-membership
    * relevance (neighbor relevant ⟺ same label as the query) — the
    * standard retrieval-quality metric (Järvelin & Kekäläinen 2002),
    * grading the ANN/similarity stack's RANKING quality where q_auc
    * grades a scalar score. DCG terms are rel/log2(rank+1), spelled
    * rel·LN(2)/LN(rank+1) so every logarithm is LN of a small integer (or
    * the literal 2.0) — engine-identical doubles — and both the DCG and
    * the ideal-DCG sums accumulate in DECIMAL(28,14) (the q_perplexity
    * recipe). IDCG uses min(n_rel, 10) ideal hits. Ranking reuses the
    * q_cosine_topk algebra: fused decimal_dot cosine ROUNDED to 6 dp with
    * a vec_id tie-break, so both engines rank identically. Scale: queries
    * broadcast; the corpus streams through one scan; everything after the
    * top-k is #queries-sized.
    */
  def qNdcg(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
      .withColumn("nrm", expr("SQRT(decimal_dot(embedding, embedding))"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_norm"), col("label").as("q_label"))
    val scored = broadcast(queries).crossJoin(e)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        r6(expr("decimal_dot(q_emb, embedding)") / (col("q_norm") * col("nrm"))).as("cosine"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    val top = scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
      .withColumn("rel", when(col("label") === col("q_label"), 1L).otherwise(0L))
    val dcg = top.groupBy(col("q_id"), col("q_label")).agg(
      sum(col("rel")).cast("bigint").as("hits_at_10"),
      sum(expr(
        """CAST(CAST(CAST(rel AS DOUBLE) * LN(2.0) / LN(CAST(rnk + 1 AS DOUBLE)) AS DOUBLE)
          |  AS DECIMAL(28,14))""".stripMargin)).cast("double").as("dcg"))
    val nRel = scored.filter(col("label") === col("q_label"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_rel"))
    dcg.join(nRel, "q_id")
      .withColumn("idcg", expr(
        """CAST(aggregate(transform(sequence(1, CAST(LEAST(n_rel, 10) AS INT)),
          |    i -> CAST(CAST(LN(2.0) / LN(CAST(i + 1 AS DOUBLE)) AS DOUBLE) AS DECIMAL(28,14))),
          |  CAST(0 AS DECIMAL(28,14)), (acc, v) -> CAST(acc + v AS DECIMAL(28,14))) AS DOUBLE)""".stripMargin))
      .select(col("q_id"), col("n_rel"), col("hits_at_10"),
        r6(col("dcg")).as("dcg_at_10"),
        r6(col("dcg") / col("idcg")).as("ndcg_at_10"))
  }

  val qNdcgSql: String =
    """WITH nr AS (SELECT vec_id,
      |        SQRT(CAST(list_sum(list_transform(embedding, x ->
      |          CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE)) AS nrm,
      |        embedding, label
      |      FROM embeddings),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_norm, label AS q_label
      |      FROM nr WHERE vec_id < 10),
      |scored AS (
      |  SELECT q_id, q_label, c.vec_id, c.label,
      |    ROUND(
      |      CAST(list_sum(list_transform(range(1, len(q_emb) + 1), i ->
      |        CAST(CAST(q_emb[CAST(i AS INT)] AS DOUBLE) * CAST(c.embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE)
      |      / (q_norm * c.nrm), 6) AS cosine
      |  FROM q CROSS JOIN nr c WHERE q_id <> c.vec_id),
      |top AS (SELECT q_id, q_label, label,
      |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
      |      FROM scored QUALIFY rnk <= 10),
      |dcg AS (SELECT q_id, q_label,
      |        CAST(SUM(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_10,
      |        CAST(SUM(CAST(CAST(CAST(CASE WHEN label = q_label THEN 1 ELSE 0 END AS DOUBLE)
      |            * LN(2.0) / LN(CAST(rnk + 1 AS DOUBLE)) AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) AS dcg
      |      FROM top GROUP BY q_id, q_label),
      |rel AS (SELECT q_id, COUNT(*) AS n_rel FROM scored WHERE label = q_label GROUP BY q_id),
      |idcg AS (SELECT q_id,
      |        CAST(list_sum(list_transform(range(1, LEAST(n_rel, 10) + 1), i ->
      |          CAST(CAST(LN(2.0) / LN(CAST(i + 1 AS DOUBLE)) AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE) AS idcg
      |      FROM rel)
      |SELECT q_id, n_rel, hits_at_10,
      |  ROUND(dcg, 6) AS dcg_at_10,
      |  ROUND(dcg / idcg, 6) AS ndcg_at_10
      |FROM dcg JOIN rel USING (q_id) JOIN idcg USING (q_id)""".stripMargin

  /** Per-(label, dim) feature standardization statistics — the fit half of
    * a z-score normalizer (the transform half is one broadcast join +
    * (v − mean)/std away), the feature-engineering prerequisite for any
    * distance-based model over raw embeddings. Exact decimal moment sums
    * (the qCentroids scale-14 algebra, one hash aggregate with map-side
    * partials); the standard deviation is the only nonlinear step and is
    * spelled identically in both engines then rounded. Output bounded to
    * the first 8 dimensions (the stats shape is identical per dim).
    */
  def qFeatureScaling(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .filter(col("dim") < 8)
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("double").cast(org.apache.spark.sql.types.DecimalType(28, 14)))
          .cast("double").as("ssum"),
        sum(expr(
          "CAST(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS DECIMAL(28,14)) AS DECIMAL(28,14))"))
          .cast("double").as("ssq"))
      .select(col("label"), col("dim"), col("n"),
        expr("ROUND(ssum / n, 6)").as("mean_v"),
        expr("ROUND(SQRT(ssq / n - (ssum / n) * (ssum / n)), 6)").as("std_v"))
  }

  val qFeatureScalingSql: String =
    """WITH e AS (SELECT label, CAST(i - 1 AS INT) AS dim, embedding[CAST(i AS INT)] AS v
      |           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
      |           WHERE i - 1 < 8),
      |m AS (SELECT label, dim, COUNT(*) AS n,
      |        CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) AS ssum,
      |        CAST(SUM(CAST(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS DECIMAL(28,14)) AS DECIMAL(28,14))) AS DOUBLE) AS ssq
      |      FROM e GROUP BY label, dim)
      |SELECT label, dim, n,
      |  ROUND(ssum / n, 6) AS mean_v,
      |  ROUND(SQRT(ssq / n - (ssum / n) * (ssum / n)), 6) AS std_v
      |FROM m""".stripMargin

  /** Linear-kernel Maximum Mean Discrepancy between the label<5 and
    * label≥5 embedding cohorts — distribution shift measured IN THE
    * EMBEDDING SPACE, completing the drift battery (q_psi: binned scalar;
    * q_ks_test: scalar ECDF; q_js_divergence: token distribution). With
    * the linear kernel, MMD² collapses to ‖μ_A − μ_B‖² — the squared
    * distance between cohort mean vectors — so the statistic is exact
    * per-dimension decimal sums (the q_feature_scaling float recipe),
    * one identical IEEE division per mean, and a decimal-summed square
    * of identical doubles. Per-dimension rows expose WHERE the shift
    * lives (the actionable part); the scalar MMD rides every row via a
    * 1-row cross. Scale: one corpus pass explodes to (rows × d) with
    * map-side combine down to 2d cells; everything after is d-sized.
    */
  def qMmd(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(when(col("label") < 5, lit("a")).otherwise(lit("b")).as("grp"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
    val m = e.groupBy(col("grp"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("double").cast(org.apache.spark.sql.types.DecimalType(28, 14)))
          .cast("double").as("ssum"))
      .withColumn("mean_v", col("ssum") / col("n"))
    val a = m.filter(col("grp") === "a")
      .select(col("dim"), col("n").as("n_a"), col("mean_v").as("mean_a"))
    val b = m.filter(col("grp") === "b")
      .select(col("dim"), col("n").as("n_b"), col("mean_v").as("mean_b"))
    val perDim = a.join(b, "dim")
      .withColumn("diff", col("mean_a") - col("mean_b"))
      .withColumn("sq", expr("CAST(diff * diff AS DECIMAL(28,14))"))
    val stat = perDim.agg(sum(col("sq")).cast("double").as("mmd2_raw"))
    perDim.crossJoin(broadcast(stat))
      .select(col("dim"), col("n_a"), col("n_b"),
        r6(col("mean_a")).as("mean_a"), r6(col("mean_b")).as("mean_b"),
        r6(col("diff")).as("diff"),
        r6(col("mmd2_raw")).as("mmd2"),
        r6(sqrt(col("mmd2_raw"))).as("mmd"))
  }

  val qMmdSql: String =
    """WITH e AS (SELECT CASE WHEN label < 5 THEN 'a' ELSE 'b' END AS grp,
      |    CAST(i - 1 AS INT) AS dim, embedding[CAST(i AS INT)] AS v
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
      |m AS (SELECT grp, dim, COUNT(*) AS n,
      |    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) AS ssum
      |  FROM e GROUP BY 1, 2),
      |mm AS (SELECT m.*, ssum / n AS mean_v FROM m),
      |a AS (SELECT dim, n AS n_a, mean_v AS mean_a FROM mm WHERE grp = 'a'),
      |b AS (SELECT dim, n AS n_b, mean_v AS mean_b FROM mm WHERE grp = 'b'),
      |pd AS (SELECT a.dim, n_a, n_b, mean_a, mean_b, mean_a - mean_b AS diff,
      |         CAST((mean_a - mean_b) * (mean_a - mean_b) AS DECIMAL(28,14)) AS sq
      |       FROM a JOIN b USING (dim)),
      |st AS (SELECT CAST(SUM(sq) AS DOUBLE) AS mmd2_raw FROM pd)
      |SELECT dim, n_a, n_b, ROUND(mean_a, 6) AS mean_a, ROUND(mean_b, 6) AS mean_b,
      |  ROUND(diff, 6) AS diff, ROUND(mmd2_raw, 6) AS mmd2,
      |  ROUND(SQRT(mmd2_raw), 6) AS mmd
      |FROM pd, st""".stripMargin

  /** Cohen's kappa of the q_lang_id stopword heuristic vs the labeled lang
    * column — chance-corrected agreement, the companion number to
    * q_classifier_metrics' per-class P/R/F1 (accuracy alone flatters a
    * classifier on this skewed 44%-en corpus; kappa subtracts what marginal
    * guessing would score). Integer-exact end-to-end:
    * kappa = (N·Σdiag − Σ_c row_c·col_c) / (N² − Σ_c row_c·col_c), both
    * numerator and denominator gated as BIGINTs, one final IEEE division.
    * Scale: the confusion matrix is classes²-sized — everything after the
    * one corpus aggregate is arithmetic over a handful of rows.
    */
  def qCohensKappa(s: SparkSession, dir: String): DataFrame = {
    val conf = TextQueries.langVote(Tables.documents(s, dir), col("lang"))
      .groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("n"))
    val tot = conf.agg(sum(col("n")).cast("bigint").as("n_total"),
      sum(when(col("lang") === col("predicted"), col("n")).otherwise(0L))
        .cast("bigint").as("diag"))
    val rows = conf.groupBy(col("lang").as("cls")).agg(sum(col("n")).as("row_n"))
    val cols = conf.groupBy(col("predicted").as("cls")).agg(sum(col("n")).as("col_n"))
    val chance = rows.join(cols, "cls")
      .agg(coalesce(sum(col("row_n") * col("col_n")), lit(0L)).cast("bigint").as("chance"))
    tot.crossJoin(broadcast(chance))
      .select(col("n_total"), col("diag"), col("chance"),
        (col("n_total") * col("diag") - col("chance")).as("kappa_num"),
        (col("n_total") * col("n_total") - col("chance")).as("kappa_den"),
        r6(((col("n_total") * col("diag") - col("chance")).cast("double")) /
          ((col("n_total") * col("n_total") - col("chance")).cast("double"))).as("kappa"))
  }

  val qCohensKappaSql: String =
    """WITH scored AS (
      |  SELECT lang,
      |    len(list_filter(string_split(text,' '), x -> x IN ('the','and','of','is'))) AS s_en,
      |    len(list_filter(string_split(text,' '), x -> x IN ('der','die','und','ist'))) AS s_de,
      |    len(list_filter(string_split(text,' '), x -> x IN ('le','la','et','est'))) AS s_fr,
      |    len(list_filter(string_split(text,' '), x -> x IN ('el','la','y','es'))) AS s_es
      |  FROM documents),
      |conf AS (SELECT lang,
      |    CASE WHEN s_en >= GREATEST(s_de, s_fr, s_es) THEN 'en'
      |         WHEN s_de >= GREATEST(s_fr, s_es) THEN 'de'
      |         WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS predicted,
      |    COUNT(*) AS n
      |  FROM scored GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
      |          CAST(SUM(CASE WHEN lang = predicted THEN n ELSE 0 END) AS BIGINT) AS diag
      |        FROM conf),
      |r AS (SELECT lang AS cls, SUM(n) AS row_n FROM conf GROUP BY 1),
      |c AS (SELECT predicted AS cls, SUM(n) AS col_n FROM conf GROUP BY 1),
      |ch AS (SELECT CAST(COALESCE(SUM(row_n * col_n), 0) AS BIGINT) AS chance
      |       FROM r JOIN c USING (cls))
      |SELECT n_total, diag, chance,
      |  n_total * diag - chance AS kappa_num,
      |  n_total * n_total - chance AS kappa_den,
      |  ROUND(CAST(n_total * diag - chance AS DOUBLE) /
      |        CAST(n_total * n_total - chance AS DOUBLE), 6) AS kappa
      |FROM tot, ch""".stripMargin

  /** Calibration / reliability diagram of the q_auc score against the
    * binary label: 10 equal-width bins over the score's global range, per
    * bin the mean predicted score vs the empirical positive rate — the
    * standard diagnostic for whether a quality-filter score can be read as
    * a probability. Bin edges derive from global min/max (two exact double
    * comparisons — engine-identical), the bin index is FLOOR on identical
    * doubles, the mean score is dMean14 decimal accumulation, and the
    * positive rate is one final exact-integer division. Scale: one
    * min/max pass (broadcast as a single row), one hash aggregate.
    */
  def qCalibration(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(
      expr("CAST(element_at(embedding, 1) AS DOUBLE)").as("score"),
      when(col("label") < 5, 1L).otherwise(0L).as("is_pos"))
    val mm = e.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
    e.crossJoin(broadcast(mm))
      .withColumn("bin",
        least(lit(9L), floor((col("score") - col("lo")) / (col("hi") - col("lo")) * 10))
          .cast("bigint"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("is_pos")).cast("bigint").as("n_pos"),
        dMean14(col("score")).as("m"))
      .select(col("bin"), col("n"), col("n_pos"),
        r6(col("m")).as("mean_score"),
        r6(col("n_pos").cast("double") / col("n")).as("pos_rate"))
  }

  val qCalibrationSql: String =
    """WITH e AS (SELECT CAST(embedding[1] AS DOUBLE) AS score,
      |        CASE WHEN label < 5 THEN 1 ELSE 0 END AS is_pos FROM embeddings),
      |mm AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM e)
      |SELECT LEAST(9, CAST(FLOOR((score - lo) / (hi - lo) * 10) AS BIGINT)) AS bin,
      |  COUNT(*) AS n, CAST(SUM(is_pos) AS BIGINT) AS n_pos,
      |  ROUND(CAST(SUM(CAST(score AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*), 6) AS mean_score,
      |  ROUND(CAST(SUM(is_pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate
      |FROM e, mm GROUP BY 1""".stripMargin

  /** Two-proportion z-test (A/B experiment readout): users split into
    * variants by parity of user_id (deterministic — a hash split in
    * production, see q_split), metric = did the user ever make a
    * high-value (>150) purchase — chosen because EVERY user purchases
    * something, which would pool to p=1 and a zero-variance z. The
    * conversion counts are exact BIGINTs; the pooled-variance z statistic
    * is one closed-form expression over those integers (identical double
    * trees both engines, rounded once), plus a |z| > 1.96 significance
    * verdict — the decision a reader actually wants. Scale: one distinct
    * aggregate keyed on user, one 2-row rollup.
    */
  def qAbTest(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150, 1L)
        .otherwise(0L)).as("converted"))
      .withColumn("variant", (col("user_id") % 2).cast("bigint"))
    val arms = users.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).cast("bigint").as("conv"))
    val wide = arms.agg(
      max(when(col("variant") === 0, col("n"))).as("n_a"),
      max(when(col("variant") === 0, col("conv"))).as("conv_a"),
      max(when(col("variant") === 1, col("n"))).as("n_b"),
      max(when(col("variant") === 1, col("conv"))).as("conv_b"))
    wide.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        r6(col("conv_a").cast("double") / col("n_a")).as("rate_a"),
        r6(col("conv_b").cast("double") / col("n_b")).as("rate_b"),
        expr("""ROUND(
                |  (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) /
                |  SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                |     * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                |     * (1.0 / n_a + 1.0 / n_b)), 6)""".stripMargin).as("z"),
        expr("""ABS((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) /
                |  SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                |     * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                |     * (1.0 / n_a + 1.0 / n_b))) > 1.96""".stripMargin).as("significant"))
  }

  val qAbTestSql: String =
    """WITH u AS (SELECT user_id,
      |         MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS converted,
      |         user_id % 2 AS variant
      |       FROM events GROUP BY user_id),
      |arms AS (SELECT variant, COUNT(*) AS n, CAST(SUM(converted) AS BIGINT) AS conv
      |         FROM u GROUP BY 1),
      |w AS (SELECT
      |    MAX(CASE WHEN variant = 0 THEN n END) AS n_a,
      |    MAX(CASE WHEN variant = 0 THEN conv END) AS conv_a,
      |    MAX(CASE WHEN variant = 1 THEN n END) AS n_b,
      |    MAX(CASE WHEN variant = 1 THEN conv END) AS conv_b
      |  FROM arms)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
      |  ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
      |  ROUND(
      |    (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) /
      |    SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
      |       * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
      |       * (1.0 / n_a + 1.0 / n_b)), 6) AS z,
      |  ABS((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) /
      |    SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
      |       * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
      |       * (1.0 / n_a + 1.0 / n_b))) > 1.96 AS significant
      |FROM w""".stripMargin

  /** ROUGE-1/ROUGE-2 n-gram overlap between candidate/reference text
    * pairs — the text-generation eval metric missing from the suite's
    * score-based (AUC/NDCG) and label-based (kappa/F1) families. Pairs are
    * deterministic (even doc_id = candidate, its successor = reference;
    * both sides gated to ≥2 tokens so every denominator is positive), and
    * the metric is the standard clipped-count form: overlap(n) =
    * Σ_g min(count_cand(g), count_ref(g)) over n-grams g, precision =
    * overlap/|cand grams|, recall = overlap/|ref grams|. All counts are
    * exact integers on both engines; each ratio is ONE double division of
    * the same two integers, so round(x,6) is bit-stable. Scale: per-pair
    * gram counting is an explode + map-side-combinable count; the
    * clipped-overlap join is equi-keyed on (pair, gram) — no corpus×corpus
    * term anywhere, and pair fan-out is the caller's sampling decision.
    */
  def qRougeOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
    val cand = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id").as("cand_id"), col("tk").as("ctk"))
    val ref = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select((col("doc_id") - 1).as("cand_id"), col("tk").as("rtk"))
    val pairs = cand.join(ref, Seq("cand_id"))
    def bigrams(c: String): org.apache.spark.sql.Column = Exact.ngrams(c, 2)
    def clipped(side: DataFrame, gramCol: String): DataFrame = {
      val counts = (tag: String, arr: String) => side
        .select(col("cand_id"), explode(col(arr)).as("g"))
        .groupBy(col("cand_id"), col("g")).agg(count(lit(1)).as(tag))
      counts("cc", s"c_$gramCol").join(counts("rc", s"r_$gramCol"), Seq("cand_id", "g"))
        .groupBy(col("cand_id"))
        .agg(sum(least(col("cc"), col("rc"))).cast("bigint").as(s"ov_$gramCol"))
    }
    // the pair frame feeds three consumers (itself + two clipped-overlap
    // passes): truncated so the corpus scan + pair join run once
    val grams = graft.ops.Lineage.truncate(pairs.select(col("cand_id"),
      col("ctk").as("c_g1"), col("rtk").as("r_g1"),
      bigrams("ctk").as("c_g2"), bigrams("rtk").as("r_g2"),
      size(col("ctk")).cast("bigint").as("n1_cand"),
      size(col("rtk")).cast("bigint").as("n1_ref"),
      (size(col("ctk")) - 1).cast("bigint").as("n2_cand"),
      (size(col("rtk")) - 1).cast("bigint").as("n2_ref")))
    grams
      .join(clipped(grams, "g1"), Seq("cand_id"), "left")
      .join(clipped(grams, "g2"), Seq("cand_id"), "left")
      .select(col("cand_id"),
        coalesce(col("ov_g1"), lit(0L)).as("n1_overlap"),
        col("n1_cand"), col("n1_ref"),
        coalesce(col("ov_g2"), lit(0L)).as("n2_overlap"),
        col("n2_cand"), col("n2_ref"))
      .withColumn("rouge1_p", r6(col("n1_overlap").cast("double") / col("n1_cand").cast("double")))
      .withColumn("rouge1_r", r6(col("n1_overlap").cast("double") / col("n1_ref").cast("double")))
      .withColumn("rouge2_p", r6(col("n2_overlap").cast("double") / col("n2_cand").cast("double")))
      .withColumn("rouge2_r", r6(col("n2_overlap").cast("double") / col("n2_ref").cast("double")))
  }

  val qRougeOverlapSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
      |           FROM documents WHERE doc_id < 200 AND len(string_split(text, ' ')) >= 2),
      |c AS (SELECT doc_id AS cand_id, tk FROM d WHERE doc_id % 2 = 0),
      |r AS (SELECT doc_id - 1 AS cand_id, tk FROM d WHERE doc_id % 2 = 1),
      |p AS (SELECT c.cand_id, c.tk AS ctk, r.tk AS rtk FROM c JOIN r USING (cand_id)),
      |cu1 AS (SELECT cand_id, u.g, COUNT(*) AS cc FROM p, UNNEST(ctk) AS u(g) GROUP BY 1, 2),
      |ru1 AS (SELECT cand_id, u.g, COUNT(*) AS rc FROM p, UNNEST(rtk) AS u(g) GROUP BY 1, 2),
      |o1 AS (SELECT cand_id, SUM(LEAST(cc, rc)) AS ov FROM cu1 JOIN ru1 USING (cand_id, g) GROUP BY 1),
      |cu2 AS (SELECT cand_id, ctk[i] || ' ' || ctk[i+1] AS g, COUNT(*) AS cc
      |        FROM p, UNNEST(range(1, len(ctk))) AS u(i) GROUP BY 1, 2),
      |ru2 AS (SELECT cand_id, rtk[i] || ' ' || rtk[i+1] AS g, COUNT(*) AS rc
      |        FROM p, UNNEST(range(1, len(rtk))) AS u(i) GROUP BY 1, 2),
      |o2 AS (SELECT cand_id, SUM(LEAST(cc, rc)) AS ov FROM cu2 JOIN ru2 USING (cand_id, g) GROUP BY 1)
      |SELECT p.cand_id,
      |  CAST(COALESCE(o1.ov, 0) AS BIGINT) AS n1_overlap,
      |  CAST(len(ctk) AS BIGINT) AS n1_cand, CAST(len(rtk) AS BIGINT) AS n1_ref,
      |  CAST(COALESCE(o2.ov, 0) AS BIGINT) AS n2_overlap,
      |  CAST(len(ctk) - 1 AS BIGINT) AS n2_cand, CAST(len(rtk) - 1 AS BIGINT) AS n2_ref,
      |  ROUND(CAST(COALESCE(o1.ov, 0) AS DOUBLE) / CAST(len(ctk) AS DOUBLE), 6) AS rouge1_p,
      |  ROUND(CAST(COALESCE(o1.ov, 0) AS DOUBLE) / CAST(len(rtk) AS DOUBLE), 6) AS rouge1_r,
      |  ROUND(CAST(COALESCE(o2.ov, 0) AS DOUBLE) / CAST(len(ctk) - 1 AS DOUBLE), 6) AS rouge2_p,
      |  ROUND(CAST(COALESCE(o2.ov, 0) AS DOUBLE) / CAST(len(rtk) - 1 AS DOUBLE), 6) AS rouge2_r
      |FROM p LEFT JOIN o1 USING (cand_id) LEFT JOIN o2 USING (cand_id)""".stripMargin

  /** Pearson chi-squared test of independence on the lang × source
    * contingency table — the categorical-association screen a corpus audit
    * runs before trusting per-source language mixes (drift in the mix is
    * exactly dependence between the two labels). Full grid including
    * zero-observed cells: chi² needs (0−e)²/e = e from them, so the cell
    * frame is the CROSS of the row/column marginal tables (tiny aggregate
    * frames) left-joined with observed counts, never the observed cells
    * alone. Exactness: the deviation o·N − r·c is an exact BIGINT
    * (|dev| ≤ N², < 2^53 up to ~sf100 corpora), each cell's contribution
    * (dev/N)²/(r·c/N) = dev²/(N·r·c) is computed on identical double
    * operands both engines, decimal-summed into the statistic, r6 at the
    * end. Scale: one pass over (lang, source) — a pruned two-column scan
    * — then everything downstream is marginal-sized (L×S cells); the
    * cross/joins are O(L·S) broadcast frames. dof = (L−1)(S−1) rides from
    * the same marginals.
    */
  def qChiSquared(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("lang"), col("source"))
    val o = d.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val r = d.groupBy(col("lang")).agg(count(lit(1)).as("r_tot"))
    val c = d.groupBy(col("source")).agg(count(lit(1)).as("c_tot"))
    val n = d.agg(count(lit(1)).as("n"))
    val cells = r.crossJoin(c)
      .join(o, Seq("lang", "source"), "left").na.fill(0L, Seq("o"))
      .crossJoin(broadcast(n))
      .withColumn("dev", col("o") * col("n") - col("r_tot") * col("c_tot"))
      .withColumn("contrib_raw", expr(
        """(CAST(dev AS DOUBLE) * CAST(dev AS DOUBLE)) /
          |(CAST(n AS DOUBLE) * CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE))""".stripMargin))
    val stat = cells.agg(
      sum(expr("CAST(contrib_raw AS DECIMAL(28,14))")).cast("double").as("chi2_raw"),
      ((countDistinct(col("lang")) - 1) * (countDistinct(col("source")) - 1))
        .cast("bigint").as("dof"))
    cells.crossJoin(broadcast(stat))
      .select(col("lang"), col("source"), col("o"), col("r_tot"), col("c_tot"),
        col("dev"), r6(col("contrib_raw")).as("contrib"),
        r6(col("chi2_raw")).as("chi2"), col("dof"))
  }

  val qChiSquaredSql: String =
    """WITH d AS (SELECT lang, source FROM documents),
      |o AS (SELECT lang, source, COUNT(*) AS o FROM d GROUP BY 1, 2),
      |r AS (SELECT lang, COUNT(*) AS r_tot FROM d GROUP BY 1),
      |c AS (SELECT source, COUNT(*) AS c_tot FROM d GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM d),
      |cells AS (
      |  SELECT r.lang, c.source, r.r_tot, c.c_tot, COALESCE(o.o, 0) AS o, n.n,
      |    COALESCE(o.o, 0) * n.n - r.r_tot * c.c_tot AS dev
      |  FROM r CROSS JOIN c CROSS JOIN n
      |  LEFT JOIN o ON o.lang = r.lang AND o.source = c.source),
      |cc AS (SELECT cells.*,
      |         (CAST(dev AS DOUBLE) * CAST(dev AS DOUBLE)) /
      |         (CAST(n AS DOUBLE) * CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE))
      |           AS contrib_raw
      |       FROM cells),
      |st AS (SELECT CAST(SUM(CAST(contrib_raw AS DECIMAL(28,14))) AS DOUBLE) AS chi2_raw,
      |         CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof
      |       FROM cc)
      |SELECT lang, source, o, r_tot, c_tot, dev,
      |  ROUND(contrib_raw, 6) AS contrib, ROUND(chi2_raw, 6) AS chi2, dof
      |FROM cc CROSS JOIN st""".stripMargin

  /** Pairwise Jensen–Shannon divergence between per-source unigram
    * distributions — the SYMMETRIC, bounded (≤ ln 2) drift metric that
    * complements q_source_drift's KL-vs-corpus and q_ks_test's
    * length-distribution ECDF gap: which pairs of sources speak the same
    * language, statistically. Decomposition that avoids materializing the
    * union vocabulary per pair: for tokens PRESENT IN BOTH sources the
    * per-token term is p·ln(p/m) with p/m = 2·ca·Nb/(ca·Nb + cb·Na) —
    * every LN argument an exact BIGINT product, engine-identical doubles,
    * decimal-summed; tokens EXCLUSIVE to one side contribute exactly
    * (excl mass)·ln 2, recovered from the shared mass without ever
    * joining the exclusive rows. Pairs with zero shared vocabulary still
    * appear (JS = ln 2): the output frame starts from the S×S source grid,
    * not from the join. Scale: the only corpus-sized work is the
    * (source, tok) aggregate; the shared-token self-join is equi on tok
    * with per-token fanout ≤ S² (source count is dimension-like), and
    * every later frame is O(S²) rows.
    */
  def qJsDivergence(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val st = tok.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    val nt = st.groupBy(col("source"))
      .agg(sum(col("c")).cast("bigint").as("n"), count(lit(1)).as("vocab"))
    val a = st.select(col("source").as("src_a"), col("tok"), col("c").as("ca"))
    val b = st.select(col("source").as("src_b"), col("tok"), col("c").as("cb"))
    val na = broadcast(nt.select(col("source").as("src_a"),
      col("n").as("n_a"), col("vocab").as("vocab_a")))
    val nb = broadcast(nt.select(col("source").as("src_b"),
      col("n").as("n_b"), col("vocab").as("vocab_b")))
    val shared = a.join(b, "tok").filter(col("src_a") < col("src_b"))
      .join(na, "src_a").join(nb, "src_b")
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_vocab"),
        sum(col("ca")).cast("bigint").as("sh_a"),
        sum(col("cb")).cast("bigint").as("sh_b"),
        sum(expr(
          """CAST((CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)) *
            |  (LN(CAST(2 * ca * n_b AS DOUBLE)) - LN(CAST(ca * n_b + cb * n_a AS DOUBLE)))
            |  AS DECIMAL(28,14))""".stripMargin)).cast("double").as("sa"),
        sum(expr(
          """CAST((CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE)) *
            |  (LN(CAST(2 * cb * n_a AS DOUBLE)) - LN(CAST(cb * n_a + ca * n_b AS DOUBLE)))
            |  AS DECIMAL(28,14))""".stripMargin)).cast("double").as("sb"))
    na.crossJoin(nb).filter(col("src_a") < col("src_b"))
      .join(shared, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("shared_vocab", "sh_a", "sh_b"))
      .na.fill(0.0, Seq("sa", "sb"))
      .withColumn("js_raw", expr(
        """((sa + (1.0 - CAST(sh_a AS DOUBLE) / CAST(n_a AS DOUBLE)) * LN(2.0)) +
          | (sb + (1.0 - CAST(sh_b AS DOUBLE) / CAST(n_b AS DOUBLE)) * LN(2.0))) / 2.0""".stripMargin))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("vocab_a"), col("vocab_b"), col("shared_vocab"),
        r6(col("js_raw")).as("js_nats"),
        r6(col("js_raw") / log(lit(2.0))).as("js_bits"))
  }

  val qJsDivergenceSql: String =
    """WITH t AS (SELECT source, UNNEST(string_split(text, ' ')) AS tok FROM documents),
      |t2 AS (SELECT source, tok FROM t WHERE tok <> ''),
      |st AS (SELECT source, tok, COUNT(*) AS c FROM t2 GROUP BY 1, 2),
      |nt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS vocab
      |       FROM st GROUP BY 1),
      |sh AS (SELECT a.source AS src_a, b.source AS src_b,
      |         COUNT(*) AS shared_vocab,
      |         CAST(SUM(a.c) AS BIGINT) AS sh_a, CAST(SUM(b.c) AS BIGINT) AS sh_b,
      |         CAST(SUM(CAST((CAST(a.c AS DOUBLE) / CAST(na.n AS DOUBLE)) *
      |           (LN(CAST(2 * a.c * nb.n AS DOUBLE)) - LN(CAST(a.c * nb.n + b.c * na.n AS DOUBLE)))
      |           AS DECIMAL(28,14))) AS DOUBLE) AS sa,
      |         CAST(SUM(CAST((CAST(b.c AS DOUBLE) / CAST(nb.n AS DOUBLE)) *
      |           (LN(CAST(2 * b.c * na.n AS DOUBLE)) - LN(CAST(b.c * na.n + a.c * nb.n AS DOUBLE)))
      |           AS DECIMAL(28,14))) AS DOUBLE) AS sb
      |       FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      |       JOIN nt na ON na.source = a.source
      |       JOIN nt nb ON nb.source = b.source
      |       GROUP BY 1, 2),
      |g AS (SELECT na.source AS src_a, nb.source AS src_b,
      |        na.n AS n_a, nb.n AS n_b, na.vocab AS vocab_a, nb.vocab AS vocab_b
      |      FROM nt na CROSS JOIN nt nb WHERE na.source < nb.source),
      |f AS (SELECT g.*, COALESCE(sh.shared_vocab, 0) AS shared_vocab,
      |        COALESCE(sh.sh_a, 0) AS sh_a, COALESCE(sh.sh_b, 0) AS sh_b,
      |        COALESCE(sh.sa, 0.0) AS sa, COALESCE(sh.sb, 0.0) AS sb
      |      FROM g LEFT JOIN sh ON sh.src_a = g.src_a AND sh.src_b = g.src_b),
      |j AS (SELECT f.*,
      |        ((sa + (1.0 - CAST(sh_a AS DOUBLE) / CAST(n_a AS DOUBLE)) * LN(2.0)) +
      |         (sb + (1.0 - CAST(sh_b AS DOUBLE) / CAST(n_b AS DOUBLE)) * LN(2.0))) / 2.0
      |          AS js_raw
      |      FROM f)
      |SELECT src_a, src_b, n_a, n_b, vocab_a, vocab_b, shared_vocab,
      |  ROUND(js_raw, 6) AS js_nats, ROUND(js_raw / LN(2.0), 6) AS js_bits
      |FROM j""".stripMargin

  /** Population Stability Index — THE production drift monitor for a
    * scored pipeline (credit scoring, quality classifiers): bin the
    * reference cohort's score distribution at its own deciles, then
    * measure Σ (p̂ᵢ−q̂ᵢ)·ln(p̂ᵢ/q̂ᵢ) between reference and current bin
    * shares (rule of thumb: <0.1 stable, >0.25 action). Cohorts here are
    * the even/odd user_id halves of purchase values — a deterministic
    * split whose PSI should be small, making the statistic's near-zero
    * value itself a sanity check. Engineering: decile boundaries come
    * from a [[graft.ops.PrefixSum]] cumulative pass over the DISTINCT
    * value table (no unpartitioned window at any scale); bin membership
    * is a size(filter(boundary_array, b -> b < v)) higher-order scan
    * against ONE broadcast 9-element array — no per-row theta join; and
    * bin counts are Laplace-smoothed as (2c+1)/(2N+10) so every LN
    * argument is an exact BIGINT even for structurally empty bins (the
    * standard epsilon fix, here exactness-preserving). Raw shares are
    * reported unsmoothed; the PSI terms use the smoothed ratios.
    */
  def qPsi(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("value"), (col("user_id") % 2 === 0).as("is_ref"))
    val bounds = refDeciles(ev)
    val binned = ev.crossJoin(broadcast(bounds))
      .withColumn("bin", expr("size(filter(barr, b -> b < value))"))
    val cnt = binned.groupBy(col("bin")).agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).cast("bigint").as("ref_n"),
      sum(when(!col("is_ref"), 1L).otherwise(0L)).cast("bigint").as("cur_n"))
    // materialize the 10-row grid ONCE (Lineage.truncate): totals, the
    // PSI terms, and the final projection all derive from it, and without
    // truncation each downstream reference re-executes the whole
    // bin-count subtree — events scan included — per use (and relies on
    // exchange reuse the hostile-conf gate disables). After this, the
    // events table is scanned exactly twice per run: once for the decile
    // boundaries, once for the bin counts; cohort totals are the grid's
    // own sums (every value lands in exactly one of the 10 bins).
    val grid = graft.ops.Lineage.truncate(
      bounds.select(col("barr"), explode(sequence(lit(0), lit(9))).as("bin"))
        .join(cnt, Seq("bin"), "left").na.fill(0L, Seq("ref_n", "cur_n")))
    psiTerms(grid)
      .select(col("bin"),
        expr("CASE WHEN bin = 0 THEN NULL ELSE element_at(barr, bin) END").as("lo"),
        col("ref_n"), col("cur_n"),
        r6(col("ref_n").cast("double") / col("np")).as("ref_share"),
        r6(col("cur_n").cast("double") / col("nq")).as("cur_share"),
        r6(col("term_raw")).as("term"), r6(col("psi_raw")).as("psi"))
  }

  /** The nine decile boundaries of the reference cohort of `ev` (value,
    * is_ref), as the one-row sorted array `barr`: boundary k is the least
    * value whose cumulative reference count reaches ⌈k·N/10⌉, from a
    * [[graft.ops.PrefixSum]] pass over the distinct values.
    */
  private[queries] def refDeciles(ev: DataFrame): DataFrame = {
    val ref = ev.filter(col("is_ref")).groupBy(col("value")).agg(count(lit(1)).as("c"))
    val cum = PrefixSum.cumsum(ref, col("c"), Seq(col("value")), "cum")
    val ks = ref.agg(sum(col("c")).cast("bigint").as("nr"))
      .select(col("nr"), explode(sequence(lit(1), lit(9))).as("k"))
      .withColumn("thr", expr("CAST((k * nr + 9) div 10 AS BIGINT)"))
    cum.join(broadcast(ks), col("cum") >= col("thr"))
      .groupBy(col("k")).agg(min(col("value")).as("b"))
      .agg(sort_array(collect_list(col("b"))).as("barr"))
  }

  /** `grid` (one row per bin, with the cohort counts ref_n and cur_n) with
    * the cohort totals np and nq, each bin's Laplace-smoothed PSI term
    * `term_raw`, and the statistic `psi_raw`: the sum of the terms, each
    * cast to DECIMAL(28,14) so the sum is order-independent. With p =
    * (2·ref_n+1)/(2·np+10) and q = (2·cur_n+1)/(2·nq+10), a term is
    * (p − q)·(ln p − ln q), every log taken of an exact BIGINT.
    */
  private[queries] def psiTerms(grid: DataFrame): DataFrame = {
    val tot = grid.agg(
      sum(col("ref_n")).cast("bigint").as("np"),
      sum(col("cur_n")).cast("bigint").as("nq"))
    val (p, np) = ("CAST(2 * ref_n + 1 AS DOUBLE)", "CAST(2 * np + 10 AS DOUBLE)")
    val (q, nq) = ("CAST(2 * cur_n + 1 AS DOUBLE)", "CAST(2 * nq + 10 AS DOUBLE)")
    val terms = grid.crossJoin(broadcast(tot))
      .withColumn("term_raw",
        expr(s"($p / $np - $q / $nq) * (LN($p) - LN($np) - LN($q) + LN($nq))"))
    val stat = terms.agg(
      sum(expr("CAST(term_raw AS DECIMAL(28,14))")).cast("double").as("psi_raw"))
    terms.crossJoin(broadcast(stat))
  }

  val qPsiSql: String =
    """WITH ev AS (SELECT value, user_id % 2 = 0 AS is_ref FROM events
      |            WHERE event_type = 'purchase'),
      |ref AS (SELECT value, COUNT(*) AS c FROM ev WHERE is_ref GROUP BY value),
      |cum AS (SELECT value, SUM(c) OVER (ORDER BY value) AS cum FROM ref),
      |nr AS (SELECT CAST(SUM(c) AS BIGINT) AS nr FROM ref),
      |ks AS (SELECT k, CAST((k * nr + 9) // 10 AS BIGINT) AS thr
      |       FROM range(1, 10) r(k), nr),
      |bm AS (SELECT k, MIN(value) AS b FROM cum JOIN ks ON cum >= thr GROUP BY k),
      |barr AS (SELECT list_sort(LIST(b)) AS barr FROM bm),
      |binned AS (SELECT ev.*, len(list_filter(barr.barr, x -> x < value)) AS bin
      |           FROM ev, barr),
      |cnt AS (SELECT bin,
      |          CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
      |          CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
      |        FROM binned GROUP BY bin),
      |gr0 AS (SELECT u.bin, barr.barr FROM range(0, 10) u(bin) CROSS JOIN barr),
      |grid AS (SELECT gr0.bin, gr0.barr, COALESCE(cnt.ref_n, 0) AS ref_n,
      |           COALESCE(cnt.cur_n, 0) AS cur_n
      |         FROM gr0 LEFT JOIN cnt ON cnt.bin = gr0.bin),
      |tot AS (SELECT CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS np,
      |          CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS nq
      |        FROM ev),
      |terms AS (SELECT grid.*, np, nq,
      |            (CAST(2 * ref_n + 1 AS DOUBLE) / CAST(2 * np + 10 AS DOUBLE)
      |             - CAST(2 * cur_n + 1 AS DOUBLE) / CAST(2 * nq + 10 AS DOUBLE)) *
      |            (LN(CAST(2 * ref_n + 1 AS DOUBLE)) - LN(CAST(2 * np + 10 AS DOUBLE))
      |             - LN(CAST(2 * cur_n + 1 AS DOUBLE)) + LN(CAST(2 * nq + 10 AS DOUBLE)))
      |              AS term_raw
      |          FROM grid, tot),
      |st AS (SELECT CAST(SUM(CAST(term_raw AS DECIMAL(28,14))) AS DOUBLE) AS psi_raw
      |       FROM terms)
      |SELECT bin, CASE WHEN bin = 0 THEN NULL ELSE barr[bin] END AS lo,
      |  ref_n, cur_n,
      |  ROUND(CAST(ref_n AS DOUBLE) / np, 6) AS ref_share,
      |  ROUND(CAST(cur_n AS DOUBLE) / nq, 6) AS cur_share,
      |  ROUND(term_raw, 6) AS term, ROUND(psi_raw, 6) AS psi
      |FROM terms, st""".stripMargin

  /** Quantile normalization across sources — the batch-effect removal
    * step (genomics' workhorse, equally at home harmonizing per-crawl
    * quality scores): each source's length distribution is mapped onto a
    * COMMON target distribution so downstream thresholds mean the same
    * thing for every source. Discretized to 20 ventile buckets: within
    * each source, docs are ranked (window PARTITIONED by source — never
    * global), bucketed by the exact integer (20·(rank−1)) div n_s, and
    * the target value for bucket k is the EQUAL-WEIGHT mean over sources
    * of each source's own bucket-k mean (the defining QN property:
    * every source contributes equally regardless of size). Exactness:
    * per-(source, bucket) sums are decimal-exact BIGINT/decimal pairs;
    * each source's bucket mean is one identical IEEE division; the
    * cross-source target is a decimal sum of those identical doubles
    * divided by the source count. Output is the (source × bucket)
    * mapping table — exactly what you'd persist and join against the
    * corpus to apply the normalization. Scale: one corpus pass for the
    * per-source window, then everything is (S × 20)-sized.
    */
  def qQuantileNorm(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val ranked = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
    val ns = ranked.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val bucketed = ranked.join(broadcast(ns), "source")
      .withColumn("bucket", expr("CAST((20 * (rk - 1)) div n_s AS BIGINT)"))
    val sb = bucketed.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_in_bucket"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"))
      .withColumn("src_bucket_mean",
        col("sum_chars").cast("double") / col("n_in_bucket"))
    val target = sb.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_sources"),
        sum(expr("CAST(src_bucket_mean AS DECIMAL(28,14))")).cast("double").as("sm"))
      .withColumn("target_value", col("sm") / col("n_sources"))
      .select(col("bucket"), col("n_sources"), col("target_value"))
    sb.join(broadcast(target), "bucket")
      .select(col("source"), col("bucket"), col("n_in_bucket"),
        r6(col("src_bucket_mean")).as("src_bucket_mean"),
        col("n_sources"), r6(col("target_value")).as("target_value"),
        r6(col("target_value") - col("src_bucket_mean")).as("shift"))
  }

  val qQuantileNormSql: String =
    """WITH d AS (SELECT source, doc_id, n_chars FROM documents),
      |rk AS (SELECT d.*,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk
      |  FROM d),
      |ns AS (SELECT source, COUNT(*) AS n_s FROM rk GROUP BY 1),
      |b AS (SELECT rk.*, CAST((20 * (rk - 1)) // n_s AS BIGINT) AS bucket
      |      FROM rk JOIN ns USING (source)),
      |sb AS (SELECT source, bucket, COUNT(*) AS n_in_bucket,
      |         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |         CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / COUNT(*) AS src_bucket_mean
      |       FROM b GROUP BY 1, 2),
      |t AS (SELECT bucket, COUNT(*) AS n_sources,
      |        CAST(SUM(CAST(src_bucket_mean AS DECIMAL(28,14))) AS DOUBLE) AS sm
      |      FROM sb GROUP BY 1),
      |tv AS (SELECT bucket, n_sources, sm / n_sources AS target_value FROM t)
      |SELECT source, bucket, n_in_bucket,
      |  ROUND(src_bucket_mean, 6) AS src_bucket_mean,
      |  n_sources, ROUND(target_value, 6) AS target_value,
      |  ROUND(target_value - src_bucket_mean, 6) AS shift
      |FROM sb JOIN tv USING (bucket)""".stripMargin

  /** Decile gains / lift table for the q_auc score — the business-facing
    * readout of a ranking model ("mail the top 30%"): rank all rows by
    * score descending, cut into 10 equal deciles, and report per-decile
    * response rate, cumulative gain (share of all positives captured so
    * far) and cumulative lift vs the base rate. Ranks come from
    * [[graft.ops.PrefixSum.cumsum]] of 1 under the (score desc, vec_id)
    * total order — no global-sort window — and the decile is the exact
    * integer (10·(rank−1)) div n. The cumulative pass runs as a theta
    * self-join over the 10-ROW decile table (metadata-scale, the q_zipf
    * pattern), so nothing corpus-sized is windowed or re-sorted. All
    * ratios divide exact BIGINTs, rounded once.
    */
  def qGains(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"),
      expr("CAST(element_at(embedding, 1) AS DOUBLE)").as("score"),
      when(col("label") < 5, 1L).otherwise(0L).as("pos"))
    val tot = e.agg(count(lit(1)).as("n"), sum(col("pos")).cast("bigint").as("tot_pos"))
    val ranked = PrefixSum.cumsum(e, lit(1L),
      Seq(col("score").desc, col("vec_id")), "rk")
    val byDec = ranked.crossJoin(broadcast(tot))
      .withColumn("decile", expr("CAST((10 * (rk - 1)) div n AS BIGINT) + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_d"), sum(col("pos")).cast("bigint").as("pos_d"))
    val cum = byDec.as("a")
      .join(broadcast(byDec.as("b")), col("b.decile") <= col("a.decile"))
      .groupBy(col("a.decile").as("decile"),
        col("a.n_d").as("n_d"), col("a.pos_d").as("pos_d"))
      .agg(sum(col("b.n_d")).cast("bigint").as("cum_n"),
        sum(col("b.pos_d")).cast("bigint").as("cum_pos"))
    cum.crossJoin(broadcast(tot))
      .select(col("decile"), col("n_d"), col("pos_d"),
        r6(col("pos_d").cast("double") / col("n_d")).as("response_rate"),
        col("cum_n"), col("cum_pos"),
        r6(col("cum_pos").cast("double") / col("tot_pos")).as("cum_gain"),
        r6((col("cum_pos").cast("double") / col("cum_n")) /
          (col("tot_pos").cast("double") / col("n"))).as("cum_lift"))
  }

  val qGainsSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score,
      |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
      |  FROM embeddings),
      |tot AS (SELECT COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS tot_pos FROM e),
      |rk AS (SELECT e.*, ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS rk FROM e),
      |dc AS (SELECT rk.*, CAST((10 * (rk - 1)) // n AS BIGINT) + 1 AS decile
      |       FROM rk, tot),
      |bd AS (SELECT decile, COUNT(*) AS n_d, CAST(SUM(pos) AS BIGINT) AS pos_d
      |       FROM dc GROUP BY decile),
      |cm AS (SELECT a.decile, a.n_d, a.pos_d,
      |         CAST(SUM(b.n_d) AS BIGINT) AS cum_n,
      |         CAST(SUM(b.pos_d) AS BIGINT) AS cum_pos
      |       FROM bd a JOIN bd b ON b.decile <= a.decile
      |       GROUP BY 1, 2, 3)
      |SELECT decile, n_d, pos_d,
      |  ROUND(CAST(pos_d AS DOUBLE) / n_d, 6) AS response_rate,
      |  cum_n, cum_pos,
      |  ROUND(CAST(cum_pos AS DOUBLE) / tot_pos, 6) AS cum_gain,
      |  ROUND((CAST(cum_pos AS DOUBLE) / cum_n) /
      |    (CAST(tot_pos AS DOUBLE) / n), 6) AS cum_lift
      |FROM cm, tot""".stripMargin

  /** Poisson bootstrap confidence interval for the mean purchase value —
    * the resampling scheme that actually works distributed (Chamandy et
    * al., Google 2012): instead of drawing n rows with replacement (a
    * global operation), each row gets an independent Poisson(1) weight
    * per replica, which is map-local and exactly mergeable. Determinism:
    * the weight is inverse-CDF over u = (r+0.5)/2¹⁶ from 4 hex nibbles
    * of sha256(event_id:replica) — the thresholds are the fixed 2¹⁶
    * quantization of the Poisson(1) CDF (24109, 48218, 60273, 64291,
    * 65296, 65497, 65530, then 7+), so reruns and both engines agree
    * bit-for-bit. Replica means are exact decimal-weighted sums; the
    * 95% CI picks order statistics 3 and 98 of the 100 sorted replica
    * means via one sorted-array aggregate (no window). Scale: the 100×
    * fan-out partial-aggregates to ≤100 rows per task before any
    * exchange; the final frame is 100 rows.
    */
  def qBootstrap(s: SparkSession, dir: String): DataFrame = {
    def nib(i: Int) =
      s"(instr('0123456789abcdef', substring(h, $i, 1)) - 1)"
    val rExpr = s"CAST(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} AS BIGINT)"
    val rep = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("value"),
        explode(sequence(lit(0), lit(99))).as("b"))
      .withColumn("h", expr(
        "sha2(concat(CAST(event_id AS STRING), ':', CAST(b AS STRING)), 256)"))
      .withColumn("r", expr(rExpr))
      .withColumn("w", expr(
        """CASE WHEN r < 24109 THEN 0 WHEN r < 48218 THEN 1 WHEN r < 60273 THEN 2
          |WHEN r < 64291 THEN 3 WHEN r < 65296 THEN 4 WHEN r < 65497 THEN 5
          |WHEN r < 65530 THEN 6 ELSE 7 END""".stripMargin))
    val means = rep.groupBy(col("b")).agg(
        sum(col("w")).cast("bigint").as("sw"),
        sum(dec(col("value")) * col("w"))
          .cast(org.apache.spark.sql.types.DecimalType(24, 4)).as("swx"))
      .select(col("b"), (col("swx").cast("double") / col("sw")).as("mean_b"))
    val base = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_v"))
      .select(col("n_rows"), (col("sum_v") / col("n_rows")).as("mean_hat"))
    means.agg(count(lit(1)).as("n_replicas"),
        sort_array(collect_list(col("mean_b"))).as("arr"))
      .crossJoin(broadcast(base))
      .select(col("n_rows"), col("n_replicas"),
        r6(col("mean_hat")).as("mean_hat"),
        r6(element_at(col("arr"), 3)).as("boot_lo"),
        r6(element_at(col("arr"), 98)).as("boot_hi"))
  }

  val qBootstrapSql: String = {
    def nib(i: Int) =
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
    s"""WITH p AS (SELECT event_id, value FROM events WHERE event_type = 'purchase'),
       |rep AS (SELECT event_id, value, u.b,
       |          sha256(event_id || ':' || u.b) AS h
       |        FROM p, range(0, 100) u(b)),
       |rr AS (SELECT rep.*,
       |         CAST(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} AS BIGINT) AS r
       |       FROM rep),
       |w AS (SELECT rr.*,
       |        CASE WHEN r < 24109 THEN 0 WHEN r < 48218 THEN 1 WHEN r < 60273 THEN 2
       |        WHEN r < 64291 THEN 3 WHEN r < 65296 THEN 4 WHEN r < 65497 THEN 5
       |        WHEN r < 65530 THEN 6 ELSE 7 END AS w
       |      FROM rr),
       |m AS (SELECT b,
       |        CAST(CAST(SUM(CAST(value AS DECIMAL(12,4)) * w) AS DECIMAL(24,4)) AS DOUBLE)
       |          / CAST(SUM(w) AS BIGINT) AS mean_b
       |      FROM w GROUP BY b),
       |arr AS (SELECT COUNT(*) AS n_replicas, list_sort(LIST(mean_b)) AS arr FROM m),
       |base AS (SELECT COUNT(*) AS n_rows,
       |           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*) AS mean_hat
       |         FROM p)
       |SELECT n_rows, n_replicas, ROUND(mean_hat, 6) AS mean_hat,
       |  ROUND(arr[3], 6) AS boot_lo, ROUND(arr[98], 6) AS boot_hi
       |FROM arr, base""".stripMargin
  }

  def all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_psi" -> ((qPsi _, Some(qPsiSql))),
    "q_bootstrap" -> ((qBootstrap _, Some(qBootstrapSql))),
    "q_gains" -> ((qGains _, Some(qGainsSql))),
    "q_quantile_norm" -> ((qQuantileNorm _, Some(qQuantileNormSql))),
    "q_mmd" -> ((qMmd _, Some(qMmdSql))),
    "q_chi_squared" -> ((qChiSquared _, Some(qChiSquaredSql))),
    "q_js_divergence" -> ((qJsDivergence _, Some(qJsDivergenceSql))),
    "q_rouge_overlap" -> ((qRougeOverlap _, Some(qRougeOverlapSql))),
    "q_ab_test" -> ((qAbTest _, Some(qAbTestSql))),
    "q_cohens_kappa" -> ((qCohensKappa _, Some(qCohensKappaSql))),
    "q_calibration" -> ((qCalibration _, Some(qCalibrationSql))),
    "q_ndcg" -> ((qNdcg _, Some(qNdcgSql))),
    "q_feature_scaling" -> ((qFeatureScaling _, Some(qFeatureScalingSql))),
    "q_dsir_weights" -> ((qDsirWeights _, Some(qDsirWeightsSql))),
    "q_auc" -> ((qAuc _, Some(qAucSql))),
    "q_classifier_metrics" -> ((qClassifierMetrics _, Some(qClassifierMetricsSql))),
    "q_ks_test" -> ((qKsTest _, Some(qKsTestSql))),
    "q_perceptron_step" -> ((qPerceptronStep _, Some(qPerceptronStepSql)))
  )
}
