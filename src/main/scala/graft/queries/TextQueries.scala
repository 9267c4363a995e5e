package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import Exact._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (north star; SURVEY.md §2.9 R14).
  *
  * The reference has no text ops (its README tutorial merely loads audio
  * into numpy, README.md:25-34); these are the operators a 100 TB corpus
  * pipeline needs: token statistics, quality scoring, language-ID, document
  * fingerprinting. All are per-row narrow transforms plus small hash
  * aggregates — the only shuffles carry #groups rows.
  */
object TextQueries {

  private def toks = split(col("text"), " ")

  /** Corpus statistics per language: docs, chars, exact token totals, and
    * distinct sources. Tokenization = single-space split (the corpus is
    * space-normalized; a production pipeline would regex-normalize first —
    * see q_token_count for the regex path).
    */
  def qTextStats(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("lang"), col("source"), col("n_chars"), size(toks).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        countDistinct(col("source")).as("n_sources"))
  }

  val qTextStatsSql: String =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  MIN(len(string_split(text, ' '))) AS min_tokens,
      |  MAX(len(string_split(text, ' '))) AS max_tokens,
      |  COUNT(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang""".stripMargin

  /** Token counting two ways per document: whitespace split vs a BPE-ish
    * regex pass ([a-z]+ runs, digit runs, or single non-space symbols) —
    * the standard cheap token estimator when no real tokenizer is on the
    * cluster. chars_per_token is the usual compression-ratio quality
    * signal.
    */
  def qTokenCount(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
        size(toks).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("re_tokens"),
        col("n_chars"),
        r6(col("n_chars").cast("double") / size(toks)).as("chars_per_token"))
  }

  val qTokenCountSql: String =
    """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
      |  n_chars,
      |  ROUND(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 6) AS chars_per_token
      |FROM documents WHERE doc_id < 200""".stripMargin

  /** Quality scoring: stopword ratio, mean token length, and a length factor
    * combined into one score; top-20 with deterministic tie-break. The
    * ratios are exact rationals (int/int in double, identical operands on
    * both engines); only the blended score is rounded.
    */
  def qQualityScore(s: SparkSession, dir: String): DataFrame = {
    val stop = "'the','a','of','and','to','in','is','on','for','with'"
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(toks).as("n_tokens"),
        expr(s"size(filter(split(text, ' '), x -> x IN ($stop)))").as("n_stop"),
        col("n_chars"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        (col("n_chars").cast("double") / col("n_tokens")).as("mean_token_len"),
        least(lit(1.0), col("n_tokens").cast("double") / 50).as("length_factor"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        r6(col("stop_ratio")).as("stop_ratio"),
        r6((col("stop_ratio") * 2 + col("length_factor")) / 3 * col("mean_token_len") / 10)
          .as("quality"))
      .orderBy(col("quality").desc, col("doc_id"))
      .limit(20)
  }

  val qQualityScoreSql: String =
    """WITH base AS (
      |  SELECT doc_id, lang,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS n_stop,
      |    n_chars
      |  FROM documents),
      |feat AS (
      |  SELECT doc_id, lang, n_tokens,
      |    CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      |    CAST(n_chars AS DOUBLE) / n_tokens AS mean_token_len,
      |    LEAST(1.0, CAST(n_tokens AS DOUBLE) / 50) AS length_factor
      |  FROM base)
      |SELECT doc_id, lang, n_tokens, ROUND(stop_ratio, 6) AS stop_ratio,
      |  ROUND((stop_ratio * 2 + length_factor) / 3 * mean_token_len / 10, 6) AS quality
      |FROM feat ORDER BY quality DESC, doc_id LIMIT 20""".stripMargin

  /** Language × source distribution with exact shares of each language's
    * total (windowed sum over the aggregate — no second scan).
    */
  def qLangDist(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
    Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_share",
        r6(col("n_docs").cast("double") / sum(col("n_docs")).over(w)))
  }

  val qLangDistSql: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) /
      |        SUM(COUNT(*)) OVER (PARTITION BY lang), 6) AS lang_share
      |FROM documents GROUP BY lang, source""".stripMargin

  /** Document fingerprint: sha256 over the sorted distinct token set — the
    * canonical bag-of-words fingerprint (order- and multiplicity-
    * insensitive, so re-shuffled near-identical docs collide). Per-row
    * narrow compute; fingerprint equality is then an exact-dedup key.
    */
  def qFingerprint(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        sha2(concat_ws(" ", array_sort(array_distinct(toks))), 256).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 1)
      .orderBy(col("first_doc"))
      .limit(50)
  }

  val qFingerprintSql: String =
    """SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
      |FROM (SELECT doc_id,
      |        sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
      |      FROM documents) t
      |GROUP BY fingerprint ORDER BY first_doc LIMIT 50""".stripMargin

  /** Language-ID by marker-token voting: count hits against tiny per-language
    * marker sets, argmax with a fixed precedence for ties. On this synthetic
    * corpus every language shares one vocabulary, so the predictions mostly
    * collapse to the tie-break — the point is the deterministic, shippable
    * operator shape (per-row filter counts + CASE argmax), not NLP accuracy.
    */
  def qLangId(s: SparkSession, dir: String): DataFrame = {
    langVote(Tables.documents(s, dir), col("doc_id"), col("lang"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** `docs`' `keep` columns plus the four marker-token scores (s_en, s_de,
    * s_fr, s_es) and the `predicted` language: the argmax of the scores,
    * ties broken in the fixed order en, de, fr, es. The q_lang_id vote,
    * which q_classifier_metrics and q_cohens_kappa score against the
    * labeled lang column.
    */
  private[queries] def langVote(docs: DataFrame, keep: Column*): DataFrame = {
    val markers = Seq("en" -> "'the','and','of','is'", "de" -> "'der','die','und','ist'",
      "fr" -> "'le','la','et','est'", "es" -> "'el','la','y','es'")
    docs.select(keep ++ markers.map { case (l, m) =>
      expr(s"size(filter(split(text,' '), x -> x IN ($m)))").as(s"s_$l")
    }: _*)
      .withColumn("predicted",
        when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
          .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
  }

  val qLangIdSql: String =
    """WITH scored AS (
      |  SELECT lang,
      |    len(list_filter(string_split(text,' '), x -> x IN ('the','and','of','is'))) AS s_en,
      |    len(list_filter(string_split(text,' '), x -> x IN ('der','die','und','ist'))) AS s_de,
      |    len(list_filter(string_split(text,' '), x -> x IN ('le','la','et','est'))) AS s_fr,
      |    len(list_filter(string_split(text,' '), x -> x IN ('el','la','y','es'))) AS s_es
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN s_en >= GREATEST(s_de, s_fr, s_es) THEN 'en'
      |       WHEN s_de >= GREATEST(s_fr, s_es) THEN 'de'
      |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS predicted,
      |  COUNT(*) AS n_docs
      |FROM scored GROUP BY 1, 2""".stripMargin

  /** Document-length histogram: 100-char buckets with bounds — the
    * distribution profile every corpus intake runs first. */
  def qLengthHistogram(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .groupBy((floor(col("n_chars") / 100) * 100).as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
  }

  val qLengthHistogramSql: String =
    """SELECT CAST(FLOOR(n_chars / 100) * 100 AS BIGINT) AS bucket_lo,
      |  COUNT(*) AS n_docs, MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents GROUP BY 1""".stripMargin

  /** Top word bigrams across the corpus — n-gram frequency extraction
    * (tokenize once, pair adjacent, explode, count). */
  def qBigramFreq(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .filter(size(toks) >= 2)
      .withColumn("tk", toks)
      .select(explode(ngrams("tk", 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("bigram"))
      .limit(20)
  }

  val qBigramFreqSql: String =
    """SELECT bigram, COUNT(*) AS freq
      |FROM (SELECT tk[i] || ' ' || tk[i+1] AS bigram
      |      FROM (SELECT string_split(text, ' ') AS tk FROM documents
      |            WHERE len(string_split(text, ' ')) >= 2) t,
      |      UNNEST(range(1, len(tk))) AS u(i)) b
      |GROUP BY bigram ORDER BY freq DESC, bigram LIMIT 20""".stripMargin

  /** Bigram language-model estimation (MLE): P(w2 | w1) = c(w1 w2)/c(w1 ·)
    * over corpus bigrams — the n-gram-LM building block (next-token tables,
    * perplexity scoring, generation-artifact detection). The denominator is
    * bigrams STARTING with w1, so each w1's conditional distribution sums
    * to 1 exactly. Ranking is on integer counts (engine-identical); the
    * probability is one IEEE division rounded at 6 dp. Scale: two hash
    * aggregates (bigram, head) plus a vocabulary-sized broadcast join.
    */
  def qBigramLm(s: SparkSession, dir: String): DataFrame = {
    val bi = Tables.documents(s, dir)
      .filter(size(toks) >= 2)
      .withColumn("tk", toks)
      .select(explode(ngrams("tk", 2)).as("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .groupBy(col("w1"), col("bigram"))
      .agg(count(lit(1)).as("c2"))
    val head = bi.groupBy(col("w1")).agg(sum(col("c2")).cast("bigint").as("c1"))
    bi.join(broadcast(head), "w1")
      .select(col("w1"), col("bigram"), col("c2"), col("c1"),
        r6(col("c2").cast("double") / col("c1")).as("prob"))
      .orderBy(col("c2").desc, col("bigram"))
      .limit(20)
  }

  val qBigramLmSql: String =
    """WITH b AS (SELECT tk[i] || ' ' || tk[i+1] AS bigram, tk[i] AS w1
      |           FROM (SELECT string_split(text, ' ') AS tk FROM documents
      |                 WHERE len(string_split(text, ' ')) >= 2) t,
      |           UNNEST(range(1, len(tk))) AS u(i)),
      |c AS (SELECT w1, bigram, COUNT(*) AS c2 FROM b GROUP BY 1, 2),
      |h AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c GROUP BY w1)
      |SELECT w1, bigram, c2, c1, ROUND(CAST(c2 AS DOUBLE) / c1, 6) AS prob
      |FROM c JOIN h USING (w1)
      |ORDER BY c2 DESC, bigram LIMIT 20""".stripMargin

  /** Perplexity-based quality scoring: each document's average negative
    * log-likelihood under the corpus bigram MLE (q_bigram_lm's model) —
    * the classic LM-filtering signal (CCNet-style): templated/duplicated
    * text scores low, malformed or out-of-domain text scores high.
    * nll(doc) = (Σ_bigrams ln c(w1·) − ln c(w1w2)) / n_bigrams, so every
    * logarithm is LN of an integer corpus count: per-term doubles are
    * engine-identical, each term is cast to DECIMAL(28,14), and the sum is
    * decimal (order-independent) — the q_token_entropy exactness recipe.
    * Scale: the LM table is vocabulary²-bounded but corpus-frequency
    * sparse (broadcast here; at web scale it becomes a shuffle join keyed
    * on the bigram); the per-doc rollup is one hash aggregate.
    */
  def qPerplexity(s: SparkSession, dir: String): DataFrame = {
    val allBi = Tables.documents(s, dir)
      .filter(size(toks) >= 2)
      .withColumn("tk", toks)
      .select(col("doc_id"), explode(ngrams("tk", 2)).as("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val lm = allBi.groupBy(col("w1"), col("bigram")).agg(count(lit(1)).as("c2"))
    val head = lm.groupBy(col("w1")).agg(sum(col("c2")).cast("bigint").as("c1"))
    val scored = allBi.filter(col("doc_id") < 20)
      .join(broadcast(lm.select(col("bigram"), col("c2"))), "bigram")
      .join(broadcast(head), "w1")
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr(
          """CAST(CAST(LN(CAST(c1 AS DOUBLE)) - LN(CAST(c2 AS DOUBLE)) AS DOUBLE)
            |  AS DECIMAL(28,14))""".stripMargin))
          .cast("double").as("nll_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        r6(col("nll_sum") / col("n_bigrams")).as("avg_nll"))
  }

  val qPerplexitySql: String =
    """WITH b AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bigram, tk[i] AS w1
      |           FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |                 WHERE len(string_split(text, ' ')) >= 2) t,
      |           UNNEST(range(1, len(tk))) AS u(i)),
      |lm AS (SELECT w1, bigram, COUNT(*) AS c2 FROM b GROUP BY 1, 2),
      |h AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM lm GROUP BY w1),
      |s AS (SELECT doc_id,
      |        CAST(CAST(LN(CAST(c1 AS DOUBLE)) - LN(CAST(c2 AS DOUBLE)) AS DOUBLE)
      |          AS DECIMAL(28,14)) AS term
      |      FROM b JOIN lm USING (w1, bigram) JOIN h USING (w1)
      |      WHERE doc_id < 20)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(*), 6) AS avg_nll
      |FROM s GROUP BY doc_id""".stripMargin

  /** Normalization-based dedup stats: how many documents collapse when
    * compared after lowercasing, punctuation-stripping, and whitespace
    * normalization — the cheap canonical-form pass that runs before any
    * MinHash at corpus intake. Exact integer output.
    */
  def qNormalizedDedup(s: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")
    Tables.documents(s, dir)
      .select(col("lang"), col("text"), sha2(norm, 256).as("norm_hash"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("distinct_raw"),
        countDistinct(col("norm_hash")).as("distinct_normalized"))
  }

  val qNormalizedDedupSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT text) AS distinct_raw,
      |  COUNT(DISTINCT sha256(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS distinct_normalized
      |FROM documents GROUP BY lang""".stripMargin

  /** Train/eval contamination detection — THE decontamination operator of
    * training pipelines: eval documents sharing ≥3 distinct word-5-shingles
    * with any train document are contaminated. Split = doc_id parity (a
    * stand-in for the real train/eval provenance column). Candidates come
    * from the shingle inverted index (equi-join, never all-pairs); the
    * planted near-dup pairs that straddle the parity split surface here.
    */
  def qContamination(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(s, dir)
      .filter(size(toks) >= 5)
      .withColumn("tk", toks)
      .select(col("doc_id"), explode(array_distinct(ngrams("tk", 5))).as("shingle"))
    val train = sh.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("train_id"), col("shingle"))
    val eval_ = sh.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id").as("eval_id"), col("shingle"))
    eval_.join(train, "shingle")
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= 3)
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_train_matches"),
        sum(col("shared_shingles")).as("total_shared"),
        max(col("shared_shingles")).as("worst_overlap"))
  }

  val qContaminationSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE len(string_split(text, ' ')) >= 5),
      |sh AS (SELECT DISTINCT doc_id,
      |         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] AS shingle
      |       FROM t, UNNEST(range(1, len(tk)-3)) AS u(i)),
      |pairs AS (
      |  SELECT e.doc_id AS eval_id, tr.doc_id AS train_id, COUNT(*) AS shared_shingles
      |  FROM sh e JOIN sh tr ON e.shingle = tr.shingle
      |  WHERE e.doc_id % 2 = 1 AND tr.doc_id % 2 = 0
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      |SELECT eval_id, COUNT(*) AS n_train_matches,
      |  CAST(SUM(shared_shingles) AS BIGINT) AS total_shared, MAX(shared_shingles) AS worst_overlap
      |FROM pairs GROUP BY eval_id""".stripMargin

  /** Bloom-filter decontamination — q_contamination's 100 TB scale path:
    * instead of shuffling BOTH sides' shingles into an equi-join, the
    * eval set's distinct shingles fold into ONE compact bloom filter
    * (Spark's own BloomFilterAggregate — the expression pair behind its
    * runtime-filter rewrite, registered as SQL functions
    * `bloom_filter_agg`/`might_contain` via [[graft.functions.GraftFunctions]]),
    * and the training corpus probes it with a codegen'd per-row test: no
    * shuffle of the big side at all, the same shape as a broadcast join
    * but with O(bits) state instead of O(eval shingles).
    * The sketch is engine-specific, so like q_approx_distinct the gate is
    * a tolerance VERDICT, not a hash of the sketch: the exact overlap
    * count rides along (SQL-replicable), `no_false_negatives` must be
    * TRUE (the bloom guarantee — a false negative would silently leak
    * eval data into training), and the false-positive count must stay
    * under 2% of probes (m/n = 16 bits/item ⇒ nominal fpp ≈ 4e-4).
    */
  def qBloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sh = Tables.documents(s, dir)
      .filter(size(toks) >= 5)
      .withColumn("tk", toks)
      .select(col("doc_id"), explode(array_distinct(ngrams("tk", 5))).as("shingle"))
    val eval_ = sh.filter(col("doc_id") % 2 === 1).select(col("shingle")).distinct()
    eval_.createOrReplaceTempView("bloom_eval_sh")
    sh.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("shingle"))
      .createOrReplaceTempView("bloom_train_sh")
    // BloomFilterAggregate requires foldable sizing literals, and a fixed
    // size rots as data grows (the fpp bound degrades linearly past the
    // design point) — so size from the measured eval cardinality at 16
    // bits/item (nominal fpp ≈ 4e-4, far inside the 2% verdict bound).
    // The count is one extra aggregate over the SMALL side; in production
    // the item estimate comes from table stats instead.
    val nEval = math.max(1024L, eval_.count())
    val nBits = 16L * nEval
    s.sql(
      s"""WITH probe AS (
         |  SELECT t.doc_id, t.shingle,
         |    might_contain(
         |      (SELECT bloom_filter_agg(xxhash64(shingle), ${nEval}L, ${nBits}L)
         |       FROM bloom_eval_sh),
         |      xxhash64(t.shingle)) AS flagged,
         |    EXISTS (SELECT 1 FROM bloom_eval_sh e
         |            WHERE e.shingle = t.shingle) AS truly
         |  FROM bloom_train_sh t)
         |SELECT COUNT(*) AS n_train_shingles,
         |  CAST(SUM(CASE WHEN truly THEN 1 ELSE 0 END) AS BIGINT) AS n_true_overlap,
         |  BOOL_AND(flagged OR NOT truly) AS no_false_negatives,
         |  CAST(SUM(CASE WHEN flagged AND NOT truly THEN 1 ELSE 0 END) AS BIGINT)
         |    * 50 <= COUNT(*) AS fp_within_bound
         |FROM probe""".stripMargin)
  }

  val qBloomDecontaminateSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE len(string_split(text, ' ')) >= 5),
      |sh AS (SELECT DISTINCT doc_id,
      |         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] AS shingle
      |       FROM t, UNNEST(range(1, len(tk)-3)) AS u(i)),
      |e AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 1),
      |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 2 = 0)
      |SELECT COUNT(*) AS n_train_shingles,
      |  CAST(SUM(CASE WHEN shingle IN (SELECT shingle FROM e) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_true_overlap,
      |  TRUE AS no_false_negatives, TRUE AS fp_within_bound
      |FROM tr""".stripMargin

  /** Vocabulary coverage: how many of the most frequent tokens cover 90% of
    * corpus occurrences (the vocabulary-pruning knob). Pure integer math:
    * `10 × cumulative_before < 9 × total` avoids float thresholds.
    */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(explode(toks).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    // The cumulative sum runs over the DISTINCT vocabulary — much smaller
    // than the corpus, but at 100 TB a web-scale vocabulary is still
    // hundreds of millions of tokens, so no unpartitioned window: the
    // distributed two-phase prefix sum keeps every task partition-sized.
    // The corpus total is a broadcast scalar, not a whole-table window.
    val cum = graft.ops.PrefixSum.cumsum(
      freq, col("freq"), Seq(col("freq").desc, col("token")), "cum")
    val total = freq.agg(sum(col("freq")).as("total"))
    cum.join(broadcast(total))
      .agg(count(lit(1)).as("vocab_size"),
        sum(col("freq")).as("total_occurrences"),
        sum(when((col("cum") - col("freq")) * 10 < col("total") * 9, 1)
          .otherwise(0)).as("tokens_for_90pct"))
  }

  val qVocabCoverageSql: String =
    """WITH freq AS (
      |  SELECT token, COUNT(*) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      |  WHERE token <> '' GROUP BY token),
      |c AS (SELECT token, freq,
      |        SUM(freq) OVER (ORDER BY freq DESC, token
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        SUM(freq) OVER () AS total
      |      FROM freq)
      |SELECT COUNT(*) AS vocab_size, CAST(SUM(freq) AS BIGINT) AS total_occurrences,
      |  CAST(SUM(CASE WHEN (cum - freq) * 10 < total * 9 THEN 1 ELSE 0 END) AS BIGINT) AS tokens_for_90pct
      |FROM c""".stripMargin

  /** Intra-document repetition — the duplicate-n-gram quality signal
    * (high duplicate-trigram fraction flags boilerplate/spam documents in
    * corpus filtering): per doc, 1 − distinct/total word-3-grams, as an
    * exact rational rounded at 6 dp; the 20 most repetitive docs with
    * deterministic tie-break. Per-row narrow compute, one small top-k.
    */
  def qRepetition(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .filter(size(toks) >= 3)
      .withColumn("tk", toks)
      .withColumn("grams", ngrams("tk", 3))
      .select(col("doc_id"),
        size(col("grams")).as("total_grams"),
        size(array_distinct(col("grams"))).as("distinct_grams"))
      .withColumn("dup_ratio",
        r6(lit(1.0) - col("distinct_grams").cast("double") / col("total_grams")))
      .orderBy(col("dup_ratio").desc, col("doc_id"))
      .limit(20)
  }

  /** Gopher-style repetition filters (Rae et al. 2021, Table A1): the
    * fraction of document CHARACTERS covered by the single most frequent
    * word n-gram, for n = 2, 3, 4 (count × gram length / doc chars — the
    * published top-n-gram simplification; the duplicate-n-gram variant
    * with overlap-free occupancy needs interval union and is not
    * SQL-expressible on either engine). Top gram per (doc, n) is argmax by
    * count with lexicographic tie-break — fully deterministic. Flags use
    * the paper's thresholds (0.20 / 0.18 / 0.16) compared in INTEGER
    * cross-multiplication, so the pass/fail verdicts are exact, not
    * float-dependent. Per-doc narrow work + doc-key aggregations; no
    * corpus-wide shuffle beyond the per-doc gram counts.
    */
  def qGopherRepetition(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, dir)
      .filter(size(toks) >= 4)
      .select(col("doc_id"), col("n_chars"), toks.as("tk"))
    def topGramChars(n: Int): DataFrame = base
      .select(col("doc_id"), explode(ngrams("tk", n)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("cnt").desc, col("g"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), (col("cnt") * length(col("g"))).as(s"top${n}_chars"))
    base.select(col("doc_id"), col("n_chars"))
      .join(topGramChars(2), "doc_id")
      .join(topGramChars(3), "doc_id")
      .join(topGramChars(4), "doc_id")
      .select(col("doc_id"), col("n_chars"),
        r6(col("top2_chars").cast("double") / col("n_chars")).as("top2_frac"),
        r6(col("top3_chars").cast("double") / col("n_chars")).as("top3_frac"),
        r6(col("top4_chars").cast("double") / col("n_chars")).as("top4_frac"),
        (col("top2_chars") * 100 > col("n_chars") * 20).as("flag_top2"),
        (col("top3_chars") * 100 > col("n_chars") * 18).as("flag_top3"),
        (col("top4_chars") * 100 > col("n_chars") * 16).as("flag_top4"))
      .orderBy(col("top2_frac").desc, col("doc_id"))
      .limit(25)
  }

  val qGopherRepetitionSql: String =
    """WITH base AS (
      |  SELECT doc_id, n_chars, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 4),
      |grams AS (
      |  SELECT doc_id, 2 AS n, UNNEST(list_transform(range(1, len(tk)),
      |           i -> tk[i] || ' ' || tk[i+1])) AS g FROM base
      |  UNION ALL
      |  SELECT doc_id, 3, UNNEST(list_transform(range(1, len(tk) - 1),
      |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) FROM base
      |  UNION ALL
      |  SELECT doc_id, 4, UNNEST(list_transform(range(1, len(tk) - 2),
      |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) FROM base),
      |tg AS (
      |  SELECT doc_id, n, cnt * length(g) AS top_chars FROM (
      |    SELECT doc_id, n, g, COUNT(*) AS cnt,
      |      ROW_NUMBER() OVER (PARTITION BY doc_id, n ORDER BY COUNT(*) DESC, g) AS rn
      |    FROM grams GROUP BY doc_id, n, g) WHERE rn = 1)
      |SELECT b.doc_id, b.n_chars,
      |  ROUND(CAST(t2.top_chars AS DOUBLE) / b.n_chars, 6) AS top2_frac,
      |  ROUND(CAST(t3.top_chars AS DOUBLE) / b.n_chars, 6) AS top3_frac,
      |  ROUND(CAST(t4.top_chars AS DOUBLE) / b.n_chars, 6) AS top4_frac,
      |  t2.top_chars * 100 > b.n_chars * 20 AS flag_top2,
      |  t3.top_chars * 100 > b.n_chars * 18 AS flag_top3,
      |  t4.top_chars * 100 > b.n_chars * 16 AS flag_top4
      |FROM base b
      |JOIN tg t2 ON t2.doc_id = b.doc_id AND t2.n = 2
      |JOIN tg t3 ON t3.doc_id = b.doc_id AND t3.n = 3
      |JOIN tg t4 ON t4.doc_id = b.doc_id AND t4.n = 4
      |ORDER BY top2_frac DESC, b.doc_id LIMIT 25""".stripMargin

  val qRepetitionSql: String =
    """WITH g AS (
      |  SELECT doc_id, list_transform(range(1, len(tk) - 1),
      |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS grams
      |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |        WHERE len(string_split(text, ' ')) >= 3) t)
      |SELECT doc_id, len(grams) AS total_grams,
      |  len(list_distinct(grams)) AS distinct_grams,
      |  ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) AS dup_ratio
      |FROM g ORDER BY dup_ratio DESC, doc_id LIMIT 20""".stripMargin

  /** Sequence packing — the GPT-style concat-then-chunk step that turns a
    * deduplicated corpus into fixed-budget training sequences: documents are
    * laid out in deterministic content-hash order (sha256, doc_id tie-break
    * — the same reproducible order as q_stratified_sample), token offsets
    * accumulate over that total order, and a document belongs to the pack
    * holding its first token (`offset DIV budget`). Output is per-pack
    * occupancy: how many docs start in each 512-token sequence and how many
    * tokens they contribute.
    *
    * Scale: the cumulative offset uses ops.PrefixSum (range partition +
    * local scan + broadcast per-partition offsets) — no unpartitioned
    * window anywhere, so the layout step is balanced at corpus scale; the
    * final aggregate shuffles #packs rows (corpus_tokens / 512).
    */
  def qPack(s: SparkSession, dir: String): DataFrame = {
    val budget = 512
    // project BEFORE the prefix-sum: the range exchange must carry
    // (doc_id, h, ntok), never the document bodies
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"),
        size(toks).cast("long").as("ntok"))
    graft.ops.PrefixSum.cumsum(
        d, col("ntok"), Seq(col("h"), col("doc_id")), "cum_tok")
      .withColumn("seq_id", expr(s"CAST((cum_tok - ntok) DIV $budget AS BIGINT)"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"))
  }

  val qPackSql: String =
    """WITH d AS (SELECT doc_id, sha256(text) AS h,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      |           FROM documents),
      |c AS (SELECT doc_id, ntok,
      |        CAST(SUM(ntok) OVER (ORDER BY h, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
      |      FROM d)
      |SELECT CAST((cum_tok - ntok) // 512 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(ntok) AS BIGINT) AS pack_tokens,
      |  MIN(doc_id) AS first_doc
      |FROM c GROUP BY 1""".stripMargin

  /** Document chunking — the RAG/embedding preprocessing step: overlapping
    * fixed-width token windows (width 64, stride 48 → 16-token overlap),
    * covering every token, last chunk short. The gate hashes each chunk's
    * exact TEXT (sha256), so window arithmetic, slicing, and joining all
    * have to agree with the oracle byte-for-byte. Per-row narrow compute
    * with a bounded explode (≈n_tok/stride rows per doc); no shuffle at
    * all until a downstream consumer aggregates.
    */
  def qChunk(s: SparkSession, dir: String): DataFrame =
    chunksOf(Tables.documents(s, dir).filter(col("doc_id") < 50))

  /** The whole qChunk transform over an arbitrary (doc_id, text) frame —
    * shared with the hostile-corpus gate (HostileCorpusQueries).
    *
    * Chunk TEXTS are built inside one per-doc transform and only then
    * exploded: the previous spelling exploded chunk INDICES first and
    * sliced afterwards, which carried the doc's whole token array into
    * every chunk row — ~20 GB streamed for one 10 MiB document
    * (n_chunks × |doc|, quadratic in doc length). The hostile-corpus gate
    * is what exposed it; now each output row carries only its own ~width
    * tokens. chunk_tokens is recovered by re-splitting the chunk text —
    * exact, because tokens are space-free by construction of the split.
    */
  private[queries] def chunksOf(docs: DataFrame): DataFrame = {
    val width = 64
    val stride = 48
    docs
      .withColumn("tk", toks)
      .withColumn("n_tok", size(col("tk")))
      .withColumn("n_chunks", expr(
        s"CAST((greatest(n_tok - $width, 0) + $stride - 1) DIV $stride + 1 AS INT)"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, n_chunks - 1),
           |          c -> array_join(slice(tk, c * $stride + 1, $width), ' '))""".stripMargin))
        .as(Seq("chunk", "chunk_text")))
      .select(col("doc_id"), col("chunk"),
        size(split(col("chunk_text"), " ")).as("chunk_tokens"),
        sha2(col("chunk_text"), 256).as("chunk_sha"))
  }

  val qChunkSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE doc_id < 50),
      |n AS (SELECT doc_id, tk,
      |        (GREATEST(len(tk) - 64, 0) + 47) // 48 + 1 AS n_chunks FROM t),
      |c AS (SELECT doc_id, tk, CAST(u.i AS INT) AS chunk
      |      FROM n, UNNEST(range(0, n_chunks)) AS u(i))
      |SELECT doc_id, chunk,
      |  CAST(len(tk[chunk * 48 + 1 : chunk * 48 + 64]) AS INT) AS chunk_tokens,
      |  sha256(array_to_string(tk[chunk * 48 + 1 : chunk * 48 + 64], ' ')) AS chunk_sha
      |FROM c""".stripMargin

  /** Blocklist redaction — the PII-scrub shape (emails/phones/IDs in a real
    * corpus; here a synthetic token blocklist stands in, since the test
    * corpus has no PII-like strings) : every blocklisted token is replaced
    * with a fixed `<PII>` marker and per-language audit stats come back
    * exact — documents touched, total redactions, and the net character
    * delta of the rewrite. Per-row narrow regex compute (codegen'd
    * built-ins, word-boundary anchored so only whole tokens match) plus one
    * #langs-row hash aggregate; nothing here widens at 100 TB.
    */
  def qRedact(s: SparkSession, dir: String): DataFrame = {
    val pat = "\\b(customer|key|value|order)\\b"
    Tables.documents(s, dir)
      .withColumn("n_hits", regexp_count(col("text"), lit(pat)))
      .withColumn("red", regexp_replace(col("text"), pat, "<PII>"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("docs_hit"),
        sum(col("n_hits").cast("long")).as("total_hits"),
        sum((length(col("red")) - length(col("text"))).cast("long")).as("char_delta"))
  }

  val qRedactSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN len(regexp_extract_all(text, '\b(customer|key|value|order)\b')) > 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
      |  CAST(SUM(len(regexp_extract_all(text, '\b(customer|key|value|order)\b'))) AS BIGINT) AS total_hits,
      |  CAST(SUM(length(regexp_replace(text, '\b(customer|key|value|order)\b', '<PII>', 'g'))
      |    - length(text)) AS BIGINT) AS char_delta
      |FROM documents GROUP BY lang""".stripMargin

  /** TF-IDF: top-3 most characteristic tokens per document (doc_id < 20).
    * tf = in-doc count, idf = ln(N/df) over the whole corpus; ranking on
    * the ROUNDED score with token tie-break so both engines rank
    * identically. Scale: two hash aggregates (token-in-doc, token-df) and
    * one broadcast-sized join with the df table — the idf side is
    * vocabulary-sized, never corpus-sized.
    */
  def qTfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val nDocs = docs.count()
    val toksDf = docs.select(col("doc_id"), explode(toks).as("token"))
      .filter(col("token") =!= "")
    val tf = toksDf.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df_ = toksDf.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
    tf.filter(col("doc_id") < 20)
      .join(broadcast(df_), "token")
      .withColumn("tfidf", r6(col("tf") * log(lit(nDocs.toDouble) / col("df"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("token"), col("tf"), col("df"), col("tfidf"))
  }

  val qTfidfSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok2 GROUP BY 1, 2),
      |df AS (SELECT token, COUNT(*) AS df
      |       FROM (SELECT DISTINCT doc_id, token FROM tok2) d GROUP BY token),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
      |    ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      |  FROM tf JOIN df USING (token) CROSS JOIN n
      |  WHERE tf.doc_id < 20),
      |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |             ORDER BY tfidf DESC, token) AS rnk FROM scored)
      |SELECT doc_id, rnk, token, tf, df, tfidf FROM ranked WHERE rnk <= 3""".stripMargin

  /** Feature hashing (the "hashing trick", Weinberger et al. ICML 2009 —
    * Spark MLlib's HashingTF / Vowpal Wabbit's featurizer): project each
    * document into a FIXED 64-dim signed-count vector with dim =
    * hash(token) mod 64 and a second hash bit choosing the sign (the
    * sign trick makes collision noise zero-mean). This is the
    * featurizer that needs NO vocabulary table at 100 TB — no df join,
    * no broadcast, no fit pass; any executor can featurize any shard
    * independently, which is exactly why it is the default text
    * featurizer at web scale. Hashes are the shared md5-nibble
    * primitive (Exact.md5IntExpr/md5IntSql — 3 nibbles mod 64 is
    * uniform since 16^3 is a multiple of 64), so both engines assign
    * identical dims/signs and the gate is exact BIGINTs. Rows where
    * signed counts cancel to zero are dropped in both engines (the
    * collision-cancellation case the sign trick exists for).
    * Scale: one narrow per-row pass + a (doc, dim)-key map-side-
    * combinable aggregate; nothing vocabulary- or corpus-sized crosses
    * an exchange.
    */
  def qFeatureHashing(s: SparkSession, dir: String): DataFrame = {
    import Exact.md5IntExpr
    Tables.documents(s, dir)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("dim", expr(s"${md5IntExpr("tok", 1, 3)} % 64"))
      .withColumn("sign",
        when(expr(md5IntExpr("tok", 4, 1)) < 8, 1L).otherwise(-1L))
      .groupBy(col("doc_id"), col("dim"))
      .agg(count(lit(1)).as("n_hits"), sum(col("sign")).as("weight"))
      .filter(col("weight") =!= 0)
  }

  val qFeatureHashingSql: String = {
    import Exact.md5IntSql
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents WHERE doc_id < 20),
       |h AS (
       |  SELECT doc_id,
       |    ${md5IntSql("tok", 1, 3)} % 64 AS dim,
       |    CASE WHEN ${md5IntSql("tok", 4, 1)} < 8 THEN 1 ELSE -1 END AS sign
       |  FROM tok WHERE tok <> '')
       |SELECT doc_id, dim, COUNT(*) AS n_hits,
       |  CAST(SUM(sign) AS BIGINT) AS weight
       |FROM h GROUP BY doc_id, dim
       |HAVING SUM(sign) <> 0""".stripMargin
  }

  /** Boilerplate detection — the RefinedWeb/CCNet repeated-content pass
    * adapted to this corpus's unit (word bigrams; web pipelines use lines,
    * which this corpus lacks): a bigram is boilerplate when it appears in
    * >= 20 distinct documents, and each document is scored by the fraction
    * of its bigram instances that are boilerplate. High-ratio docs are
    * template/chrome-heavy and get dropped or stripped before training.
    * Exact integer counts; the ratio is the only double (round-6).
    * Scale: the document-frequency table is vocabulary-bounded (broadcast
    * here; a shuffle join on the bigram key at web scale — same shape as
    * q_tfidf's df join). One explode + two hash aggregates; document
    * bodies never shuffle.
    */
  def qBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val bi = Tables.documents(s, dir)
      .filter(size(toks) >= 2)
      .withColumn("tk", toks)
      .select(col("doc_id"), explode(ngrams("tk", 2)).as("bigram"))
    val dfTbl = bi.groupBy(col("bigram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 20)
    bi.join(broadcast(dfTbl.select(col("bigram"), lit(1L).as("isb"))),
        Seq("bigram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("isb"), lit(0L))).as("n_boiler"))
      .withColumn("boiler_ratio",
        r6(col("n_boiler").cast("double") / col("n_bigrams")))
      .orderBy(col("boiler_ratio").desc, col("doc_id"))
      .limit(20)
  }

  val qBoilerplateSql: String =
    """WITH b AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bigram
      |           FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |                 WHERE len(string_split(text, ' ')) >= 2) t,
      |           UNNEST(range(1, len(tk))) AS u(i)),
      |df AS (SELECT bigram, COUNT(DISTINCT doc_id) AS df FROM b GROUP BY bigram),
      |boiler AS (SELECT bigram FROM df WHERE df >= 20)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(CASE WHEN boiler.bigram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_boiler,
      |  ROUND(CAST(SUM(CASE WHEN boiler.bigram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS boiler_ratio
      |FROM b LEFT JOIN boiler USING (bigram)
      |GROUP BY doc_id
      |ORDER BY boiler_ratio DESC, doc_id LIMIT 20""".stripMargin

  /** Line-level dedup with document REASSEMBLY — the curation transform
    * q_boilerplate only measures: RefinedWeb/C4 drop every "line" that
    * repeats across documents, then stitch the survivors back together in
    * order. This corpus has no newlines, so the line unit is the standard
    * fallback: consecutive non-overlapping 8-word segments, each doc
    * segmented against its own word positions (the q_substring_dup
    * positional-shingle discipline, non-overlapping here because removal
    * must partition the text). A segment is boilerplate when its exact
    * text occurs in >= 2 distinct documents; surviving segments rejoin in
    * seg_no order and the per-doc result is hash-gated (sha256 of the
    * rebuilt text), so a single mis-ordered or mis-dropped segment
    * anywhere breaks the gate. Output: every doc that lost content, with
    * segment/char accounting.
    * Scale: one explode to ~n_words/8 segment rows (re-derived by each of
    * the df count, the per-doc totals, and the anti-join probe), a
    * map-side-combinable distinct-df aggregate on the segment key, a
    * left-anti join (AQE: broadcast while the boilerplate table is small,
    * shuffle join at web scale), and a per-doc collect_list whose state is
    * bounded by the doc's own length — document bodies shuffle once, on
    * the doc_id key, to reassemble. No driver state, no windows.
    */
  def qLineDedup(s: SparkSession, dir: String): DataFrame =
    lineDedupOf(Tables.documents(s, dir))

  /** The whole qLineDedup transform over an arbitrary (doc_id, text) frame
    * — shared with the hostile-corpus gate
    * (HostileCorpusQueries) so degenerate documents run the production
    * segmentation/anti-join/reassembly code, not a copy.
    */
  private[queries] def lineDedupOf(docs: DataFrame): DataFrame = {
    // no pin: the segments feed three branches of the returned plan, and
    // re-splitting the documents per branch is a narrow scan
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, CAST(ceil(size(ws) / 8.0) AS INT) - 1),
          |          i -> array_join(slice(ws, i * 8 + 1, 8), ' '))""".stripMargin))
        .as(Seq("seg_no", "seg")))
    val boiler = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("seg"))
    val kept = segs.join(boiler, Seq("seg"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(seg_no, seg))), x -> x.seg), ' ')")
          .as("new_text"))
    segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_segs"))
      .join(rebuilt, Seq("doc_id"), "left")
      .withColumn("n_dropped", col("n_segs") - coalesce(col("n_kept"), lit(0L)))
      .filter(col("n_dropped") > 0)
      .select(col("doc_id"), col("n_segs"), col("n_dropped"),
        length(coalesce(col("new_text"), lit(""))).cast("long").as("new_len"),
        sha2(coalesce(col("new_text"), lit("")), 256).as("new_sha"))
  }

  val qLineDedupSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |segs AS (
      |  SELECT doc_id, i AS seg_no,
      |         array_to_string(ws[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' ') AS seg
      |  FROM w, UNNEST(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS u(i)),
      |bp AS (SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 2),
      |kept AS (SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM bp)),
      |tot AS (SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id),
      |reb AS (SELECT doc_id, COUNT(*) AS n_kept,
      |          string_agg(seg, ' ' ORDER BY seg_no) AS new_text
      |        FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, CAST(t.n_segs AS BIGINT) AS n_segs,
      |  CAST(t.n_segs - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped,
      |  CAST(len(COALESCE(r.new_text, '')) AS BIGINT) AS new_len,
      |  sha256(COALESCE(r.new_text, '')) AS new_sha
      |FROM tot t LEFT JOIN reb r USING (doc_id)
      |WHERE t.n_segs - COALESCE(r.n_kept, 0) > 0""".stripMargin

  /** Zipf rank-frequency fit: OLS slope of ln(freq) on ln(rank) over the
    * top-100 tokens — the corpus-health diagnostic (natural text slopes
    * ≈ −1; template-heavy or synthetic corpora flatten or steepen it).
    * Exactness: every logarithm is LN of an integer (rank or count), so
    * per-term doubles are engine-identical; terms are cast to
    * DECIMAL(28,14) and summed decimal (order-independent, the
    * q_perplexity recipe). Ranks come from a triangular self-join over the
    * 100-row top-k table (bounded, broadcast), not a global window — the
    * plan stays free of unpartitioned Window nodes.
    * Scale: one token-count aggregate + TakeOrderedAndProject(100); the
    * fit itself touches 100 rows.
    */
  def qZipf(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(explode(toks).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(100)
    val other = freq.select(col("token").as("t2"), col("freq").as("f2"))
    val ranked = freq.join(broadcast(other),
        col("f2") > col("freq") ||
          (col("f2") === col("freq") && col("t2") < col("token")), "left")
      .groupBy(col("token"), col("freq"))
      .agg((count(col("t2")) + 1).as("rank"))
    val terms = ranked.select(
      expr("CAST(CAST(LN(CAST(rank AS DOUBLE)) AS DOUBLE) AS DECIMAL(28,14))").as("lx"),
      expr("CAST(CAST(LN(CAST(freq AS DOUBLE)) AS DOUBLE) AS DECIMAL(28,14))").as("ly"),
      expr("""CAST(CAST(LN(CAST(rank AS DOUBLE)) * LN(CAST(freq AS DOUBLE)) AS DOUBLE)
             |  AS DECIMAL(28,14))""".stripMargin).as("lxy"),
      expr("""CAST(CAST(LN(CAST(rank AS DOUBLE)) * LN(CAST(rank AS DOUBLE)) AS DOUBLE)
             |  AS DECIMAL(28,14))""".stripMargin).as("lxx"))
    terms.agg(
        count(lit(1)).as("n"),
        sum(col("lx")).cast("double").as("sx"),
        sum(col("ly")).cast("double").as("sy"),
        sum(col("lxy")).cast("double").as("sxy"),
        sum(col("lxx")).cast("double").as("sxx"))
      .select(col("n"),
        r6((col("n") * col("sxy") - col("sx") * col("sy")) /
           (col("n") * col("sxx") - col("sx") * col("sx"))).as("zipf_slope"),
        r6((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
           (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"))
          .as("intercept"))
  }

  val qZipfSql: String =
    """WITH freq AS (
      |  SELECT token, COUNT(*) AS freq
      |  FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents) t
      |  WHERE token <> '' GROUP BY token
      |  ORDER BY freq DESC, token LIMIT 100),
      |ranked AS (
      |  SELECT token, freq,
      |    ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
      |  FROM freq),
      |terms AS (
      |  SELECT
      |    CAST(CAST(LN(CAST(rank AS DOUBLE)) AS DOUBLE) AS DECIMAL(28,14)) AS lx,
      |    CAST(CAST(LN(CAST(freq AS DOUBLE)) AS DOUBLE) AS DECIMAL(28,14)) AS ly,
      |    CAST(CAST(LN(CAST(rank AS DOUBLE)) * LN(CAST(freq AS DOUBLE)) AS DOUBLE)
      |      AS DECIMAL(28,14)) AS lxy,
      |    CAST(CAST(LN(CAST(rank AS DOUBLE)) * LN(CAST(rank AS DOUBLE)) AS DOUBLE)
      |      AS DECIMAL(28,14)) AS lxx
      |  FROM ranked),
      |m AS (SELECT COUNT(*) AS n, CAST(SUM(lx) AS DOUBLE) AS sx,
      |        CAST(SUM(ly) AS DOUBLE) AS sy, CAST(SUM(lxy) AS DOUBLE) AS sxy,
      |        CAST(SUM(lxx) AS DOUBLE) AS sxx
      |      FROM terms)
      |SELECT n,
      |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
      |  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
      |    AS intercept
      |FROM m""".stripMargin

  /** Count-min-sketch heavy hitters — the streaming-friendly frequent-items
    * sketch (Cormode–Muthukrishnan): d=4 hash rows × w=64 buckets of
    * counters; an item's estimate is the MIN of its d counters, always >=
    * the true count (one-sided error <= N·e/w with probability 1−e^−d).
    * Computed over word bigrams with w deliberately small (~900 distinct
    * bigrams into 64 buckets) so collisions are real and the overestimate
    * column genuinely exercises the sketch's error bound; the exact count
    * rides along as the audit (overestimate >= 0 is structural).
    * Deterministic md5-derived bucket hashes → the entire sketch is
    * integer-replicable in SQL, so this is hash-gated, not verdict-gated.
    * Scale: the sketch table is d×w rows regardless of corpus size — ONE
    * explode + hash aggregate builds it, and estimating any candidate set
    * is a broadcast join against <=4096 rows, never a corpus re-shuffle.
    * That is the whole point vs exact counting: the corpus-wide state is
    * O(d·w), not O(vocabulary). The corpus is scanned ONCE: the exploded
    * bigram stream collapses straight into the vocabulary-sized exact-count
    * table (truncated — it is ~vocab rows, kilobytes), and the sketch is
    * derived from it by weighted bucket aggregation (Σ per-bigram counts
    * per bucket ≡ per-instance bucket counts), so neither consumer re-runs
    * the document scan + tokenize + explode.
    */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val d = 4; val w = 1024
    val bi = Tables.documents(s, dir)
      .filter(size(toks) >= 2)
      .withColumn("tk", toks)
      .select(explode(ngrams("tk", 2)).as("bigram"))
    def bucket(r: Int) =
      expr(s"(${Exact.md5IntExpr(s"concat('$r:', bigram)", 1, 3)}) % $w")
    val buckets = array((0 until d).map(bucket): _*)
    // truncated: feeds two branches of the returned plan
    val exact = graft.ops.Lineage.truncate(
      bi.groupBy(col("bigram")).agg(count(lit(1)).as("exact")))
    val sketch = exact
      .select(col("exact"), posexplode(buckets).as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket")).agg(sum(col("exact")).as("cnt"))
    exact
      .select(col("bigram"), col("exact"),
        posexplode(buckets).as(Seq("r", "bucket")))
      .join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy(col("bigram"), col("exact"))
      .agg(min(col("cnt")).as("est"))
      .select(col("bigram"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overestimate"))
      .orderBy(col("est").desc, col("bigram"))
      .limit(15)
  }

  val qHeavyHittersSql: String = {
    val bucketSql = Exact.md5IntSql("CAST(r AS VARCHAR) || ':' || bigram", 1, 3)
    s"""WITH b AS (SELECT tk[i] || ' ' || tk[i+1] AS bigram
       |           FROM (SELECT string_split(text, ' ') AS tk FROM documents
       |                 WHERE len(string_split(text, ' ')) >= 2) t,
       |           UNNEST(range(1, len(tk))) AS u(i)),
       |inst AS (SELECT bigram, r, ($bucketSql) % 1024 AS bucket
       |         FROM b, UNNEST(range(0, 4)) AS v(r)),
       |sketch AS (SELECT r, bucket, COUNT(*) AS cnt FROM inst GROUP BY r, bucket),
       |exact AS (SELECT bigram, COUNT(*) AS exact FROM b GROUP BY bigram),
       |cand AS (SELECT bigram, exact, r, ($bucketSql) % 1024 AS bucket
       |         FROM exact, UNNEST(range(0, 4)) AS v(r)),
       |est AS (SELECT bigram, exact, MIN(cnt) AS est
       |        FROM cand JOIN sketch USING (r, bucket)
       |        GROUP BY bigram, exact)
       |SELECT bigram, exact, est, est - exact AS overestimate
       |FROM est ORDER BY est DESC, bigram LIMIT 15""".stripMargin
  }

  /** PMI collocation extraction — the classic corpus-linguistics signal for
    * multiword expressions (Church & Hanks 1990; also the association
    * measure word2vec's SGNS implicitly factorizes, Levy & Goldberg 2014):
    * PMI(w1,w2) = ln P(w1w2)/(P(w1)P(w2)), spelled over integer counts as
    * ln c12 + 2·ln N − ln T − ln c1 − ln c2 (N = token instances, T =
    * bigram instances) so every logarithm is LN of an integer — the
    * engine-exactness recipe of q_perplexity. A min-count filter (c12 ≥ 5)
    * suppresses the low-frequency PMI blow-up, the standard practice.
    * Ranking is on the ROUNDED pmi with a bigram tie-break (house rule:
    * a last-ulp difference can never reorder the LIMIT). Scale: two
    * vocabulary-sized hash aggregates; unigram counts broadcast-join onto
    * the bigram table (shuffle join keyed on the word at web scale); the
    * two scalar totals ride as ONE broadcast row.
    */
  def qPmi(s: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(s, dir)
      .withColumn("tk", toks)
    val uni = tk.select(explode(col("tk")).as("w"))
    val n1 = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bi = tk.filter(size(col("tk")) >= 2)
      .select(explode(ngrams("tk", 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= 5)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    val scal = tk.agg(
      sum(size(col("tk"))).cast("bigint").as("n_tok"),
      sum(greatest(size(col("tk")) - 1, lit(0))).cast("bigint").as("t_bi"))
    bi.join(broadcast(n1.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(n1.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(scal))
      .select(col("bigram"), col("c12"), col("c1"), col("c2"),
        expr("""ROUND(LN(CAST(c12 AS DOUBLE)) + 2.0 * LN(CAST(n_tok AS DOUBLE))
               |  - LN(CAST(t_bi AS DOUBLE)) - LN(CAST(c1 AS DOUBLE))
               |  - LN(CAST(c2 AS DOUBLE)), 6)""".stripMargin).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(20)
  }

  val qPmiSql: String =
    """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
      |uni AS (SELECT UNNEST(tk) AS w FROM t),
      |n1 AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
      |bi AS (SELECT tk[i] || ' ' || tk[i+1] AS bigram
      |       FROM t, UNNEST(range(1, len(tk))) AS u(i) WHERE len(tk) >= 2),
      |bc AS (SELECT bigram, COUNT(*) AS c12 FROM bi GROUP BY bigram HAVING COUNT(*) >= 5),
      |sc AS (SELECT CAST(SUM(len(tk)) AS BIGINT) AS n_tok,
      |              CAST(SUM(GREATEST(len(tk) - 1, 0)) AS BIGINT) AS t_bi FROM t)
      |SELECT bigram, c12, a.c AS c1, b.c AS c2,
      |  ROUND(LN(CAST(c12 AS DOUBLE)) + 2.0 * LN(CAST(n_tok AS DOUBLE))
      |    - LN(CAST(t_bi AS DOUBLE)) - LN(CAST(a.c AS DOUBLE))
      |    - LN(CAST(b.c AS DOUBLE)), 6) AS pmi
      |FROM bc JOIN n1 a ON a.w = string_split(bigram, ' ')[1]
      |        JOIN n1 b ON b.w = string_split(bigram, ' ')[2], sc
      |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin

  /** k-anonymity audit over the quasi-identifier (lang, source,
    * 100-char length bucket): every equivalence class smaller than k=3 is
    * a re-identification risk — the privacy-release companion to
    * q_redact's content scrubbing (redaction hides WHAT a document says;
    * k-anonymity measures whether its metadata alone singles it out).
    * Emits each class with its size, the at-risk flag, and the share of
    * the corpus it puts at risk (exact integer ratio, rounded once).
    * Scale: one hash aggregate over the quasi-identifier (map-side
    * partials); the total rides a single broadcast row.
    */
  def qKAnonymity(s: SparkSession, dir: String): DataFrame = {
    val k = 3
    val cls = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"),
        (floor(col("n_chars") / 100) * 100).cast("bigint").as("len_bucket"))
      .agg(count(lit(1)).as("class_size"))
    val tot = cls.agg(sum(col("class_size")).cast("bigint").as("n_total"))
    cls.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("len_bucket"), col("class_size"),
        (col("class_size") < k).as("at_risk"),
        r6(when(col("class_size") < k, col("class_size")).otherwise(0L)
          .cast("double") / col("n_total")).as("risk_share"))
  }

  val qKAnonymitySql: String =
    """WITH cls AS (SELECT lang, source,
      |         CAST(FLOOR(n_chars / 100) * 100 AS BIGINT) AS len_bucket,
      |         COUNT(*) AS class_size
      |       FROM documents GROUP BY 1, 2, 3),
      |tot AS (SELECT CAST(SUM(class_size) AS BIGINT) AS n_total FROM cls)
      |SELECT lang, source, len_bucket, class_size,
      |  class_size < 3 AS at_risk,
      |  ROUND(CAST(CASE WHEN class_size < 3 THEN class_size ELSE 0 END AS DOUBLE)
      |        / n_total, 6) AS risk_share
      |FROM cls, tot""".stripMargin

  /** l-diversity audit — the privacy screen k-anonymity alone cannot
    * give (Machanavajjhala et al. 2007): a quasi-identifier class can be
    * large (k-anonymous) yet expose its members anyway if the SENSITIVE
    * attribute is homogeneous inside it. Quasi-identifier = (source,
    * 100-char length bucket) — q_k_anonymity's spelling minus lang —
    * and `lang` is the sensitive attribute: per class, members and
    * distinct sensitive values; classes with fewer than l=2 distinct
    * langs are flagged, and the exposed-member share rides as the exact
    * ratio the release decision reads. Scale: one hash aggregate over
    * (QI, lang) pairs, one over QI — both map-side combinable; the only
    * broadcast is the 1-row total.
    */
  def qLDiversity(s: SparkSession, dir: String): DataFrame = {
    val l = 2
    val cls = Tables.documents(s, dir)
      .groupBy(col("source"),
        (floor(col("n_chars") / 100) * 100).cast("bigint").as("len_bucket"))
      .agg(count(lit(1)).as("class_size"),
        count_distinct(col("lang")).as("n_sensitive"))
    val tot = cls.agg(sum(col("class_size")).cast("bigint").as("n_total"))
    cls.crossJoin(broadcast(tot))
      .select(col("source"), col("len_bucket"), col("class_size"),
        col("n_sensitive"),
        (col("n_sensitive") < l).as("homogeneous"),
        r6(when(col("n_sensitive") < l, col("class_size")).otherwise(0L)
          .cast("double") / col("n_total")).as("exposed_share"))
  }

  val qLDiversitySql: String =
    """WITH cls AS (SELECT source,
      |         CAST(FLOOR(n_chars / 100) * 100 AS BIGINT) AS len_bucket,
      |         COUNT(*) AS class_size,
      |         COUNT(DISTINCT lang) AS n_sensitive
      |       FROM documents GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(class_size) AS BIGINT) AS n_total FROM cls)
      |SELECT source, len_bucket, class_size, n_sensitive,
      |  n_sensitive < 2 AS homogeneous,
      |  ROUND(CAST(CASE WHEN n_sensitive < 2 THEN class_size ELSE 0 END AS DOUBLE)
      |        / n_total, 6) AS exposed_share
      |FROM cls, tot""".stripMargin

  /** BM25 document ranking for a fixed query — the retrieval scorer
    * (Robertson/Spärck Jones) that q_tfidf's tf·idf weights feed in every
    * search stack; here with k1=1.2, b=0.75 and the Lucene-style
    * non-negative idf ln(1 + (N−df+0.5)/(df+0.5)). Query = {dup, query,
    * hash} ('dup' is the planted-duplicate marker and the only rare term
    * — BM25's idf weighting is visible in the output, not just decoration).
    * Exactness: every LN argument is one double division of integer-
    * valued doubles (engine-identical), per-term scores are cast to
    * DECIMAL(28,14) and summed order-independently (the q_perplexity
    * recipe), rank order uses the ROUNDED score with doc_id tie-break —
    * total order, so both engines select the same top 50. Scale: the df
    * table is vocabulary-sized (broadcast), doc lengths and the N/S
    * scalars ride one broadcast row; one corpus aggregate, one top-k.
    */
  def qBm25(s: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("dup", "query", "hash")
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks).as("tok")) // duplicates kept: true tf
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val scal = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val df_ = tf.filter(col("tok").isin(qTerms: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf.filter(col("tok").isin(qTerms: _*))
      .join(broadcast(df_), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(scal))
      .withColumn("term", expr(
        """CAST(CAST(
          |  LN(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
          |  * (CAST(tf AS DOUBLE) * 2.2)
          |  / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
          |       * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))
          |AS DOUBLE) AS DECIMAL(28,14))""".stripMargin))
    scored.groupBy(col("doc_id"), col("dl"))
      .agg(r6(sum(col("term")).cast("double")).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(50)
  }

  val qBm25Sql: String =
    """WITH tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM
      |              (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
      |            GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |scal AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
      |dfx AS (SELECT tok, COUNT(*) AS df FROM tf
      |        WHERE tok IN ('dup', 'query', 'hash') GROUP BY 1),
      |t AS (SELECT tf.doc_id, dl.dl,
      |        CAST(CAST(
      |          LN(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |          * (CAST(tf AS DOUBLE) * 2.2)
      |          / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
      |               * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))
      |        AS DOUBLE) AS DECIMAL(28,14)) AS term
      |      FROM tf JOIN dfx USING (tok) JOIN dl USING (doc_id), scal)
      |SELECT doc_id, dl, ROUND(CAST(SUM(term) AS DOUBLE), 6) AS bm25
      |FROM t GROUP BY 1, 2
      |ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the hybrid-search
    * combiner: fuse a LEXICAL ranking (q_bm25's top-50) with a VECTOR
    * ranking (exact decimal cosine against a fixed query embedding,
    * top-50) into one list via RRF(d) = Σ_r 1/(60 + rank_r(d)). Documents
    * pair with embeddings by id (synthetic corpus convention); a doc
    * retrieved by only one ranker contributes that one term — the
    * standard union semantics. Exactness: ranks are integers from
    * total-order (rounded score, id) windows, each 1/(60+rank) is one
    * double division cast to DECIMAL(28,14), the fusion sum is decimal,
    * the final order is (rounded rrf desc, doc_id). Scale: both rankers
    * are top-k (TakeOrdered); the fusion windows run over the two 50-row
    * lists — metadata-scale by construction.
    */
  def qRrf(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val lex = qBm25(s, dir)
      .withColumn("rank_lex",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank_lex"))
    val e = Tables.embeddings(s, dir)
      .withColumn("nrm", expr("SQRT(decimal_dot(embedding, embedding))"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_norm"))
    val vec = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        r6(expr("decimal_dot(q_emb, embedding)") / (col("q_norm") * col("nrm")))
          .as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id")).limit(50)
      .withColumn("rank_vec",
        row_number().over(Window.orderBy(col("cosine").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank_vec"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf", expr(
        """CAST(COALESCE(CAST(CAST(1.0 / (60 + rank_lex) AS DOUBLE) AS DECIMAL(28,14)), 0)
          |   + COALESCE(CAST(CAST(1.0 / (60 + rank_vec) AS DOUBLE) AS DECIMAL(28,14)), 0)
          | AS DECIMAL(28,14))""".stripMargin))
      .select(col("doc_id"), col("rank_lex"), col("rank_vec"),
        r6(col("rrf").cast("double")).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id")).limit(20)
  }

  val qRrfSql: String =
    """WITH tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM
      |              (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
      |            GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |scal AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
      |dfx AS (SELECT tok, COUNT(*) AS df FROM tf
      |        WHERE tok IN ('dup', 'query', 'hash') GROUP BY 1),
      |t AS (SELECT tf.doc_id, dl.dl,
      |        CAST(CAST(
      |          LN(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      |          * (CAST(tf AS DOUBLE) * 2.2)
      |          / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
      |               * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))
      |        AS DOUBLE) AS DECIMAL(28,14)) AS term
      |      FROM tf JOIN dfx USING (tok) JOIN dl USING (doc_id), scal),
      |bm AS (SELECT doc_id, ROUND(CAST(SUM(term) AS DOUBLE), 6) AS bm25
      |       FROM t GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 50),
      |lex AS (SELECT doc_id,
      |          row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
      |        FROM bm),
      |nrm AS (SELECT vec_id, embedding,
      |          SQRT(CAST(list_sum(list_transform(embedding,
      |            x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14))))
      |            AS DOUBLE)) AS nrm
      |        FROM embeddings),
      |qv AS (SELECT embedding AS q_emb, nrm AS q_norm FROM nrm WHERE vec_id = 0),
      |cos AS (SELECT vec_id AS doc_id,
      |          ROUND(CAST(list_sum(list_transform(range(1, len(embedding) + 1),
      |            i -> CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
      |                    * CAST(q_emb[CAST(i AS INT)] AS DOUBLE)
      |                  AS DECIMAL(28,14)))) AS DOUBLE) / (q_norm * nrm), 6) AS cosine
      |        FROM nrm, qv WHERE vec_id <> 0
      |        ORDER BY cosine DESC, doc_id LIMIT 50),
      |vec AS (SELECT doc_id,
      |          row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank_vec
      |        FROM cos),
      |f AS (SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, rank_lex, rank_vec,
      |        CAST(COALESCE(CAST(CAST(1.0 / (60 + rank_lex) AS DOUBLE) AS DECIMAL(28,14)), 0)
      |           + COALESCE(CAST(CAST(1.0 / (60 + rank_vec) AS DOUBLE) AS DECIMAL(28,14)), 0)
      |         AS DECIMAL(28,14)) AS rrf
      |      FROM lex FULL OUTER JOIN vec USING (doc_id))
      |SELECT doc_id, rank_lex, rank_vec,
      |  ROUND(CAST(rrf AS DOUBLE), 6) AS rrf_score
      |FROM f ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin

  /** FIM (fill-in-the-middle) transform — the pretraining data op that
    * teaches infilling (Bavarian et al. 2022): split each document at two
    * DETERMINISTIC hash-derived character offsets into prefix/middle/
    * suffix and re-emit in PSM order. Both cut points are md5-derived
    * integers (the [[Exact.md5IntExpr]] primitive — no RNG, so reruns and
    * both engines agree bit-for-bit), bounded to thirds of the document so
    * all three spans are non-empty. The gate hashes the reassembled PSM
    * string, so the whole character surgery — offsets, substring bounds,
    * separator placement — is what is checked, not just the lengths.
    * Scale: pure per-row narrow transform; nothing shuffles but the
    * verify sink.
    */
  def qFim(s: SparkSession, dir: String): DataFrame = {
    val third = "CAST(n_chars DIV 3 AS BIGINT)"
    Tables.documents(s, dir)
      .filter(col("n_chars") >= 30)
      .withColumn("cut1", expr(
        s"1 + ${Exact.md5IntExpr("CONCAT('fim1:', CAST(doc_id AS STRING))", 1, 7)} % $third"))
      .withColumn("cut2", expr(
        s"n_chars - 1 - ${Exact.md5IntExpr("CONCAT('fim2:', CAST(doc_id AS STRING))", 1, 7)} % $third"))
      .withColumn("prefix", expr("substring(text, 1, CAST(cut1 AS INT))"))
      .withColumn("middle", expr("substring(text, CAST(cut1 AS INT) + 1, CAST(cut2 - cut1 AS INT))"))
      .withColumn("suffix", expr("substring(text, CAST(cut2 AS INT) + 1)"))
      .select(col("doc_id"), col("cut1"), col("cut2"),
        length(col("prefix")).cast("bigint").as("len_prefix"),
        length(col("middle")).cast("bigint").as("len_middle"),
        length(col("suffix")).cast("bigint").as("len_suffix"),
        sha2(concat(lit("<PRE>"), col("prefix"), lit("<SUF>"), col("suffix"),
          lit("<MID>"), col("middle")), 256).as("psm_sha"))
  }

  val qFimSql: String = {
    val c1 = Exact.md5IntSql("CONCAT('fim1:', CAST(doc_id AS VARCHAR))", 1, 7)
    val c2 = Exact.md5IntSql("CONCAT('fim2:', CAST(doc_id AS VARCHAR))", 1, 7)
    s"""WITH c AS (SELECT doc_id, text, n_chars,
       |        1 + $c1 % CAST(n_chars // 3 AS BIGINT) AS cut1,
       |        n_chars - 1 - $c2 % CAST(n_chars // 3 AS BIGINT) AS cut2
       |      FROM documents WHERE n_chars >= 30),
       |p AS (SELECT doc_id, cut1, cut2,
       |        substr(text, 1, CAST(cut1 AS INT)) AS pre,
       |        substr(text, CAST(cut1 AS INT) + 1, CAST(cut2 - cut1 AS INT)) AS mid,
       |        substr(text, CAST(cut2 AS INT) + 1) AS suf
       |      FROM c)
       |SELECT doc_id, cut1, cut2,
       |  CAST(length(pre) AS BIGINT) AS len_prefix,
       |  CAST(length(mid) AS BIGINT) AS len_middle,
       |  CAST(length(suf) AS BIGINT) AS len_suffix,
       |  sha256('<PRE>' || pre || '<SUF>' || suf || '<MID>' || mid) AS psm_sha
       |FROM p""".stripMargin
  }

  /** Lexical diversity per language — the vocabulary-richness screen a
    * corpus-quality pipeline runs next to q_quality_score: type-token
    * ratio (distinct tokens / total tokens) and hapax share (fraction of
    * types occurring exactly once). Low TTR flags boilerplate/template
    * floods; a hapax share near 1 flags OCR noise or ID-like junk. Scale:
    * the only shuffle carries (lang, token) partial counts — map-side
    * combine collapses each partition's repeats first, and everything
    * after runs on #langs × #vocab rows, independent of corpus size.
    * Exactness: counts are BIGINTs; the two ratios are single double
    * divisions of exact integers rounded to 6 (Exact.r6 discipline).
    */
  def qLexicalDiversity(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("lang"), explode(toks).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("lang"))
      .agg(sum(col("tf")).cast("bigint").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).cast("bigint").as("n_hapax"))
      .select(col("lang"), col("n_tokens"), col("n_types"), col("n_hapax"),
        r6(col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        r6(col("n_hapax").cast("double") / col("n_types")).as("hapax_share"))
  }

  val qLexicalDiversitySql: String =
    """WITH tf AS (
      |  SELECT lang, u.tok, COUNT(*) AS tf
      |  FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
      |  GROUP BY 1, 2)
      |SELECT lang,
      |  CAST(SUM(tf) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_types,
      |  CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE), 6) AS ttr,
      |  ROUND(CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS hapax_share
      |FROM tf GROUP BY lang""".stripMargin

  /** N-gram novelty per source — the memorization/duplication risk screen:
    * for each source, the share of its documents' distinct 3-grams that
    * appear in NO other document corpus-wide (document frequency 1).
    * A source whose novelty share collapses is pumping templated or
    * duplicated text into the mix; this is the corpus-level complement of
    * q_repetition (within-document) and q_contamination (cross-split).
    * Scale: distinct (doc, 3-gram) pairs shuffle once to compute df
    * (map-side combinable), and the df table joins back on the 3-gram
    * equi-key — corpus-sized on both sides, so NO broadcast hint: AQE
    * picks the strategy (the q_ngram_jaccard rule). Exactness: pure
    * BIGINT counts plus one r6 ratio of exact integers.
    */
  def qNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(s, dir)
      .filter(size(toks) >= 3)
      .withColumn("tk", toks)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(ngrams("tk", 3))).as("g"))
    val df_ = sh.groupBy(col("g"))
      .agg(count_distinct(col("doc_id")).as("df"))
    sh.join(df_, "g")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).cast("bigint").as("n_novel"))
      .select(col("source"), col("n_grams"), col("n_novel"),
        r6(col("n_novel").cast("double") / col("n_grams")).as("novelty_share"))
  }

  val qNgramNoveltySql: String =
    """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT doc_id, source,
      |         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
      |       FROM t, UNNEST(range(1, len(tk)-1)) AS u(i)),
      |df AS (SELECT g, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY 1)
      |SELECT source, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  ROUND(CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS novelty_share
      |FROM sh JOIN df USING (g) GROUP BY source""".stripMargin

  /** ε-differential-privacy Laplace mechanism over the (lang, source)
    * histogram — the release step after q_k_anonymity/q_l_diversity have
    * audited the raw cells: noisy_count = count + Lap(1/ε) with ε = 1
    * (sensitivity 1 for a count query). The twist that makes it GATEABLE:
    * the noise is drawn by inverse-CDF over a hash-derived uniform —
    * u = (2r+1)/2¹⁶ from the first 4 hex nibbles of sha256(lang|source) —
    * so the mechanism is deterministic, replayable, and every LN argument
    * is an exact integer (ln(2¹⁶) − ln(2¹⁶ − |2r+1−2¹⁶|)); both engines
    * parse the nibbles positionally (no conv() dependency). Seeded-hash
    * noise is exactly how production DP releases make reruns reproducible
    * (the privacy accounting is identical; the seed is the secret). The
    * true count rides along as an audit column — this query demonstrates
    * and tests the mechanism; a real release would drop it.
    * Scale: one map-side-combinable aggregate; noise is per-CELL (L×S
    * rows), so the mechanism costs nothing at any corpus size.
    */
  def qDpNoise(s: SparkSession, dir: String): DataFrame = {
    def nib(i: Int) =
      s"(instr('0123456789abcdef', substring(h, $i, 1)) - 1)"
    val rExpr = s"CAST(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} AS BIGINT)"
    Tables.documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("true_count"))
      .withColumn("h", sha2(concat_ws("|", col("lang"), col("source")), 256))
      .withColumn("r", expr(rExpr))
      .withColumn("noise_raw", expr(
        """CASE WHEN 2 * r + 1 > 65536 THEN 1.0 ELSE -1.0 END *
          |(LN(CAST(65536 AS DOUBLE)) -
          | LN(CAST(65536 - ABS(2 * r + 1 - 65536) AS DOUBLE)))""".stripMargin))
      .select(col("lang"), col("source"), col("true_count"), col("r"),
        r6(col("noise_raw")).as("noise"),
        r6(col("true_count") + col("noise_raw")).as("noisy_count"),
        greatest(round(col("true_count") + col("noise_raw"), 0), lit(0.0))
          .cast("bigint").as("released_count"))
  }

  val qDpNoiseSql: String = {
    def nib(i: Int) =
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
    s"""WITH cells AS (SELECT lang, source, COUNT(*) AS true_count
       |               FROM documents GROUP BY 1, 2),
       |hx AS (SELECT cells.*, sha256(lang || '|' || source) AS h FROM cells),
       |rr AS (SELECT hx.*,
       |         CAST(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} AS BIGINT) AS r
       |       FROM hx),
       |nz AS (SELECT rr.*,
       |         CASE WHEN 2 * r + 1 > 65536 THEN 1.0 ELSE -1.0 END *
       |         (LN(CAST(65536 AS DOUBLE)) -
       |          LN(CAST(65536 - ABS(2 * r + 1 - 65536) AS DOUBLE))) AS noise_raw
       |       FROM rr)
       |SELECT lang, source, true_count, r,
       |  ROUND(noise_raw, 6) AS noise,
       |  ROUND(true_count + noise_raw, 6) AS noisy_count,
       |  CAST(GREATEST(ROUND(true_count + noise_raw, 0), 0.0) AS BIGINT) AS released_count
       |FROM nz""".stripMargin
  }

  /** "Fightin' Words" (Monroe, Colaresi & Quinn 2008): which tokens
    * distinguish the English slice from the German slice, as log-odds
    * ratios with an informative Dirichlet prior — THE corpus-comparison
    * statistic that fixes both naive failure modes (raw frequency ratios
    * explode on rare words; PMI-style contrasts ignore variance). Prior
    * α_t = full-corpus count of t with α0 = corpus size (prior mass
    * proportional to corpus frequency), so every LN argument — y+α and
    * n+α0−y−α — is an exact BIGINT and the per-token z-score is computed
    * on engine-identical doubles. Ranked by |z| (rounded, token
    * tie-break): positive z = English-flavored, negative = German.
    * Scale: two vocab-sized aggregates equi-joined on the token, scalar
    * totals ride one broadcast row, ordering is a top-k
    * (TakeOrderedAndProject) over the min-count-filtered vocab — nothing
    * corpus-sized crosses an exchange after the first aggregate.
    */
  def qLogOdds(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val ab = tok.filter(col("lang").isin("en", "de"))
      .groupBy(col("tok")).agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("bigint").as("y_a"),
        sum(when(col("lang") === "de", 1L).otherwise(0L)).cast("bigint").as("y_b"))
      .filter(col("y_a") + col("y_b") >= 5)
    val prior = tok.groupBy(col("tok")).agg(count(lit(1)).as("alpha"))
    val scal = tok.agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("bigint").as("n_a"),
      sum(when(col("lang") === "de", 1L).otherwise(0L)).cast("bigint").as("n_b"),
      count(lit(1)).as("alpha0"))
    ab.join(prior, "tok")
      .crossJoin(broadcast(scal))
      .withColumn("delta", expr(
        """LN(CAST(y_a + alpha AS DOUBLE)) - LN(CAST(n_a + alpha0 - y_a - alpha AS DOUBLE))
          |- LN(CAST(y_b + alpha AS DOUBLE)) + LN(CAST(n_b + alpha0 - y_b - alpha AS DOUBLE))""".stripMargin))
      .withColumn("z_raw", col("delta") /
        sqrt(lit(1.0) / (col("y_a") + col("alpha")) + lit(1.0) / (col("y_b") + col("alpha"))))
      .select(col("tok"), col("y_a"), col("y_b"), col("alpha"),
        r6(col("delta")).as("log_odds"), r6(col("z_raw")).as("z"))
      .orderBy(abs(col("z")).desc, col("tok"))
      .limit(30)
  }

  val qLogOddsSql: String =
    """WITH t AS (SELECT lang, UNNEST(string_split(text, ' ')) AS tok FROM documents),
      |t2 AS (SELECT lang, tok FROM t WHERE tok <> ''),
      |ab AS (SELECT tok,
      |         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS y_a,
      |         CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS y_b
      |       FROM t2 WHERE lang IN ('en', 'de') GROUP BY tok
      |       HAVING SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
      |            + SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) >= 5),
      |pr AS (SELECT tok, COUNT(*) AS alpha FROM t2 GROUP BY tok),
      |sc AS (SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |         CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |         COUNT(*) AS alpha0 FROM t2),
      |d AS (SELECT tok, y_a, y_b, alpha,
      |        LN(CAST(y_a + alpha AS DOUBLE)) - LN(CAST(n_a + alpha0 - y_a - alpha AS DOUBLE))
      |        - LN(CAST(y_b + alpha AS DOUBLE)) + LN(CAST(n_b + alpha0 - y_b - alpha AS DOUBLE))
      |          AS delta,
      |        1.0 / (y_a + alpha) + 1.0 / (y_b + alpha) AS v
      |      FROM ab JOIN pr USING (tok), sc)
      |SELECT tok, y_a, y_b, alpha, ROUND(delta, 6) AS log_odds,
      |  ROUND(delta / SQRT(v), 6) AS z
      |FROM d ORDER BY ABS(ROUND(delta / SQRT(v), 6)) DESC, tok LIMIT 30""".stripMargin

  def all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_log_odds" -> ((qLogOdds _, Some(qLogOddsSql))),
    "q_dp_noise" -> ((qDpNoise _, Some(qDpNoiseSql))),
    "q_lexical_diversity" -> ((qLexicalDiversity _, Some(qLexicalDiversitySql))),
    "q_ngram_novelty" -> ((qNgramNovelty _, Some(qNgramNoveltySql))),
    "q_fim" -> ((qFim _, Some(qFimSql))),
    "q_rrf" -> ((qRrf _, Some(qRrfSql))),
    "q_bm25" -> ((qBm25 _, Some(qBm25Sql))),
    "q_k_anonymity" -> ((qKAnonymity _, Some(qKAnonymitySql))),
    "q_l_diversity" -> ((qLDiversity _, Some(qLDiversitySql))),
    "q_pmi" -> ((qPmi _, Some(qPmiSql))),
    "q_heavy_hitters" -> ((qHeavyHitters _, Some(qHeavyHittersSql))),
    "q_boilerplate" -> ((qBoilerplate _, Some(qBoilerplateSql))),
    "q_line_dedup" -> ((qLineDedup _, Some(qLineDedupSql))),
    "q_feature_hashing" -> ((qFeatureHashing _, Some(qFeatureHashingSql))),
    "q_zipf" -> ((qZipf _, Some(qZipfSql))),
    "q_pack" -> ((qPack _, Some(qPackSql))),
    "q_chunk" -> ((qChunk _, Some(qChunkSql))),
    "q_bigram_lm" -> ((qBigramLm _, Some(qBigramLmSql))),
    "q_perplexity" -> ((qPerplexity _, Some(qPerplexitySql))),
    "q_redact" -> ((qRedact _, Some(qRedactSql))),
    "q_tfidf" -> ((qTfidf _, Some(qTfidfSql))),
    "q_repetition" -> ((qRepetition _, Some(qRepetitionSql))),
    "q_gopher_repetition" -> ((qGopherRepetition _, Some(qGopherRepetitionSql))),
    "q_normalized_dedup" -> ((qNormalizedDedup _, Some(qNormalizedDedupSql))),
    "q_contamination" -> ((qContamination _, Some(qContaminationSql))),
    "q_bloom_decontaminate" -> ((qBloomDecontaminate _, Some(qBloomDecontaminateSql))),
    "q_vocab_coverage" -> ((qVocabCoverage _, Some(qVocabCoverageSql))),
    "q_length_histogram" -> ((qLengthHistogram _, Some(qLengthHistogramSql))),
    "q_bigram_freq" -> ((qBigramFreq _, Some(qBigramFreqSql))),
    "q_text_stats" -> ((qTextStats _, Some(qTextStatsSql))),
    "q_token_count" -> ((qTokenCount _, Some(qTokenCountSql))),
    "q_quality_score" -> ((qQualityScore _, Some(qQualityScoreSql))),
    "q_lang_dist" -> ((qLangDist _, Some(qLangDistSql))),
    "q_fingerprint" -> ((qFingerprint _, Some(qFingerprintSql))),
    "q_lang_id" -> ((qLangId _, Some(qLangIdSql)))
  )
}
