package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.queries.Exact._

/** Analytics surface additions (round 5): linear regression from exact
  * moment sums, blocked edit-distance fuzzy matching, calendar gap-fill
  * with forward fill, bag-semantics set ops, and wide→long unpivot.
  *
  * All five are SURVEY §2.9 R7/R11/R12/R14 extensions a warehouse user of
  * the reference would reach for next; each is DuckDB-expressible, so the
  * oracle gate covers them bit-exactly (decimal accumulation for linear
  * sums, identical double expression trees + round(x,6) for the nonlinear
  * tails — see [[Exact]]).
  */
object AnalyticsQueries {

  /** Per-event-type ordinary least squares of y = props.k on x = value,
    * from the SAME exact moment sums as qCorrelation (decimal-accumulated,
    * order-independent): slope, intercept (closed form — no dependence on
    * a previously-rounded slope), and r². One hash aggregate with map-side
    * partials; the regression math is per-group scalar arithmetic.
    */
  def qRegression(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
    val ms = Exact.momentSums(col("value"), col("k"))
    ev.groupBy(col("event_type"))
      .agg(ms.head, ms.tail: _*)
      .select(col("event_type"), col("n"),
        r6((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        r6((col("sy") * col("sxx") - col("sx") * col("sxy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("intercept"),
        r6(((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy"))) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
           (col("n") * col("syy") - col("sy") * col("sy")))).as("r2"))
  }

  val qRegressionSql: String =
    """WITH m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * CAST(props->>'$.k' AS BIGINT) AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
      |    CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * CAST(value AS DECIMAL(12,4)) AS DECIMAL(28,8))) AS DECIMAL(24,4)) AS DOUBLE) AS sxx,
      |    CAST(CAST(SUM(CAST(props->>'$.k' AS BIGINT) * CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS DOUBLE) AS syy
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n,
      |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      |  ROUND((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6) AS intercept,
      |  ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      |        ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      |FROM m""".stripMargin

  /** Blocked fuzzy match on part names — the entity-resolution primitive
    * (levenshtein ≤ 4 within brand blocks, aggregated per brand). Blocking
    * is what makes edit distance survive scale: the quadratic comparison
    * runs only inside equi-key blocks (an equi-join Catalyst shuffles on
    * the block key), never corpus × corpus — at production scale the block
    * key would be finer (brand × size × name-prefix) to bound block
    * fan-out, exactly like the df-cap in qNgramJaccard. Codegen'd built-in
    * levenshtein — no UDF.
    * Cost class: ANSWER-PROPORTIONAL — growth law + measured anchors in
    * SCALE.md "Answer-proportional queries — sizing rules".
    */
  def qEditDistance(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val p = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
    // Per-pair distance uses the codegen'd edit_distance_within
    // (byte-banded DP, early exit, -1 when > 4) — identical results to
    // levenshtein(a, b, 4), ~10× cheaper on the ASCII hot path.
    blockedNamePairs(p, maxGap = 4)
      .select(col("a.p_brand").as("brand"),
        expr("edit_distance_within(a.p_name, b.p_name, 4)").as("dist"))
      .filter(col("dist") > 0)
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("dist")).cast("bigint").as("min_dist"),
        sum(col("dist")).cast("bigint").as("sum_dist"))
  }

  /** The blocked self-join every part-name string metric runs on: `parts`
    * (p_partkey, p_name, p_brand), already filtered or sampled by the
    * caller, joined to itself as `a` (probe) and `b` (build) with the
    * name length as `len`. Every unordered pair (a.p_partkey <
    * b.p_partkey) of one brand whose name lengths differ by at most
    * `maxGap` is kept, each once.
    *
    * Block on (brand × name-length band), a pure equi-join key, instead
    * of broadcasting the whole table (r5 verdict: a build side that grows
    * with the corpus is a scale-killer at 100×). A distance ≤ maxGap
    * implies |len(a)-len(b)| ≤ maxGap, so band = len DIV 8 with the probe
    * side exploding to the bands covering [len-maxGap, len+maxGap] loses
    * no qualifying pair; each pair meets in exactly ONE block (the build
    * row's single band). The fine key shuffles/partitions across
    * #brands × #bands instead of capping at #brands, and AQE is free to
    * pick broadcast when the build side is genuinely small (it is at
    * bench sf; at 100 TB this runs as a well-partitioned shuffle join).
    * r9 band-width profiling (measured in DuckDB at sf0.1): p_name is
    * 7-12 chars, so the |dlen| <= 4 gate keeps 7.97M of the 8.00M
    * same-brand pairs — bandW 8→4 would drop only 15k pre-filter pairs
    * (0.2%) while exploding the probe 1.5×. PAIR VOLUME, not planning,
    * is q_edit_distance's floor (~8M banded-DP kernels ≈ 6.8 s idle at
    * local[32]); the real lever at production scale is a finer BLOCK
    * key (brand × p_size), not a narrower length band.
    */
  private[queries] def blockedNamePairs(parts: DataFrame, maxGap: Int): DataFrame = {
    val p = parts.withColumn("len", length(col("p_name")))
    val bandW = 8
    val build = p.withColumn("band", (col("len") / bandW).cast("int"))
    val probe = p.withColumn("band",
      explode(sequence(
        (greatest(col("len") - maxGap, lit(0)) / bandW).cast("int"),
        ((col("len") + maxGap) / bandW).cast("int"))))
    probe.as("a").join(build.as("b"),
      col("a.p_brand") === col("b.p_brand") &&
        col("a.band") === col("b.band") &&
        col("a.p_partkey") < col("b.p_partkey") &&
        abs(col("a.len") - col("b.len")) <= maxGap)
  }

  val qEditDistanceSql: String =
    """WITH pr AS (
      |  SELECT a.p_brand AS brand, levenshtein(a.p_name, b.p_name) AS dist
      |  FROM part a JOIN part b
      |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey)
      |SELECT brand, COUNT(*) AS n_pairs,
      |  CAST(MIN(dist) AS BIGINT) AS min_dist,
      |  CAST(SUM(dist) AS BIGINT) AS sum_dist
      |FROM pr WHERE dist > 0 AND dist <= 4 GROUP BY brand""".stripMargin

  /** Typo-tolerant fuzzy matching with transpositions scored as ONE edit:
    * the custom codegen'd [[graft.functions.DamerauLevenshtein]] (full
    * Lowrance-Wagner variant, alphabet table) vs plain levenshtein on the
    * same brand-blocked pair frame as q_edit_distance. The oracle runs
    * DuckDB's independent `damerau_levenshtein` implementation, so every
    * pair's distance is cross-validated engine-vs-engine as exact BIGINTs
    * — including the transposition-win count, which is exactly the rows
    * where the two metrics disagree. A 10%-of-keys hash sample keeps the
    * quadratic-per-brand pair count bounded (the full DL matrix cannot be
    * banded two-row like EditDistanceWithin's kernel, so per-pair cost is
    * O(n·m) with the whole matrix); the blocking join, not the corpus,
    * owns the quadratic. Scale: (brand × length-band) equi-blocked
    * self-join, per-row probe, map-side-combinable rollup.
    */
  def qDamerau(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val p = Tables.part(s, dir)
      .filter(pmod(col("p_partkey"), lit(10)) === 0)
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
    // dl ≤ 6 implies |len(a)-len(b)| ≤ 6: the blocking keeps every
    // qualifying pair at a gap of 6
    blockedNamePairs(p, maxGap = 6)
      .select(col("a.p_brand").as("brand"),
        expr("damerau_levenshtein(a.p_name, b.p_name)").as("dl"),
        expr("levenshtein(a.p_name, b.p_name)").as("lev"))
      .filter(col("dl") > 0 && col("dl") <= 6)
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("dl")).cast("bigint").as("min_dl"),
        sum(col("dl")).cast("bigint").as("sum_dl"),
        sum(when(col("dl") < col("lev"), 1L).otherwise(0L)).cast("bigint")
          .as("n_transposition_wins"))
  }

  val qDamerauSql: String =
    """WITH pr AS (
      |  SELECT a.p_brand AS brand,
      |    damerau_levenshtein(a.p_name, b.p_name) AS dl,
      |    levenshtein(a.p_name, b.p_name) AS lev
      |  FROM part a JOIN part b
      |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |  WHERE a.p_partkey % 10 = 0 AND b.p_partkey % 10 = 0)
      |SELECT brand, COUNT(*) AS n_pairs,
      |  CAST(MIN(dl) AS BIGINT) AS min_dl,
      |  CAST(SUM(dl) AS BIGINT) AS sum_dl,
      |  CAST(SUM(CASE WHEN dl < lev THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_transposition_wins
      |FROM pr WHERE dl > 0 AND dl <= 6 GROUP BY brand""".stripMargin

  /** Calendar gap-fill + forward fill — the time-series densification every
    * metrics pipeline needs: build the full (event_type × day) spine with
    * sequence()/explode, left-join sparse daily aggregates (high-value
    * events only, so days genuinely miss), zero-fill counts, forward-fill
    * the last seen average with last(ignoreNulls) over an ordered window.
    * Scale: the spine is #types × #days rows (metadata-sized — the two
    * broadcast inputs are an aggregate row and a distinct-types list); the
    * expensive side (events) is filtered and pre-aggregated BEFORE the
    * join, and the fill window partitions by type (no global order).
    */
  def qGapfill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val bounds = ev.agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
    val spine = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val daily = ev.filter(col("value") > 300)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        r6(sum(dec(col("value"))).cast("double") / count(lit(1))).as("av"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last(col("av"), ignoreNulls = true).over(w).as("filled_avg"))
  }

  val qGapfillSql: String =
    """WITH b AS (SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events),
      |days AS (SELECT CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b),
      |types AS (SELECT DISTINCT event_type FROM events),
      |daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
      |    ROUND(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*), 6) AS av
      |  FROM events WHERE value > 300 GROUP BY 1, 2)
      |SELECT t.event_type, d.day,
      |  CAST(COALESCE(dl.n, 0) AS BIGINT) AS n_events,
      |  LAST_VALUE(dl.av IGNORE NULLS) OVER (
      |    PARTITION BY t.event_type ORDER BY d.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
      |FROM types t CROSS JOIN days d
      |LEFT JOIN daily dl ON dl.event_type = t.event_type AND dl.day = d.day""".stripMargin

  /** INTERSECT ALL / EXCEPT ALL — bag semantics (multiplicity-preserving),
    * the set-op half q_set_ops doesn't cover. Catalyst rewrites both into
    * a count-aggregate + replicate (no join explosion); inputs here are
    * single columns so the shuffle carries keys only.
    */
  def qSetOpsAll(s: SparkSession, dir: String): DataFrame = {
    val rich = Tables.customer(s, dir).filter(col("c_acctbal") > 9000)
      .select(col("c_nationkey").cast("bigint").as("nationkey"))
    val supp = Tables.supplier(s, dir)
      .select(col("s_nationkey").cast("bigint").as("nationkey"))
    rich.intersectAll(supp).withColumn("tag", lit("intersect_all"))
      .union(rich.exceptAll(supp).withColumn("tag", lit("except_all")))
  }

  val qSetOpsAllSql: String =
    """SELECT nationkey, 'intersect_all' AS tag FROM (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer WHERE c_acctbal > 9000
      |  INTERSECT ALL
      |  SELECT CAST(s_nationkey AS BIGINT) FROM supplier)
      |UNION ALL
      |SELECT nationkey, 'except_all' AS tag FROM (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer WHERE c_acctbal > 9000
      |  EXCEPT ALL
      |  SELECT CAST(s_nationkey AS BIGINT) FROM supplier)""".stripMargin

  /** Wide→long unpivot (melt): per-nation customer metrics pivoted into
    * (nationkey, metric, value) rows — the inverse of q_pivot and the
    * canonical long-format hand-off shape. Spark's native unpivot is a
    * single Expand node (rows × #metrics, no shuffle beyond the aggregate).
    */
  def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.customer(s, dir)
      .groupBy(col("c_nationkey").cast("bigint").as("nationkey"))
      .agg(dsum(col("c_acctbal")).as("sum_bal"),
        r6(sum(dec(col("c_acctbal"))).cast("double") / count(lit(1))).as("avg_bal"),
        count(lit(1)).cast("double").as("n_cust"))
    wide.unpivot(Array(col("nationkey")),
      Array(col("sum_bal"), col("avg_bal"), col("n_cust")), "metric", "value")
  }

  val qUnpivotSql: String =
    """WITH w AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS DOUBLE) AS sum_bal,
      |    ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*), 6) AS avg_bal,
      |    CAST(COUNT(*) AS DOUBLE) AS n_cust
      |  FROM customer GROUP BY 1)
      |SELECT nationkey, 'sum_bal' AS metric, sum_bal AS value FROM w
      |UNION ALL SELECT nationkey, 'avg_bal', avg_bal FROM w
      |UNION ALL SELECT nationkey, 'n_cust', n_cust FROM w""".stripMargin

  /** Per-document token entropy — the lexical-diversity quality signal
    * (low entropy = repetitive/templated text, a standard training-data
    * filter next to q_repetition's window-based variant). One-pass form
    * H = ln(n) − Σ c·ln(c)/n, so no per-token probability join; the Σ term
    * decimal-accumulates (order-independent across partitions/engines),
    * ln on identical double operands + round(6) as in q_tfidf.
    */
  def qTokenEntropy(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("bigint").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(expr("CAST(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE)) AS DECIMAL(28,14))"))
          .cast("double").as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        r6(log(col("n_tokens").cast("double")) - col("s") / col("n_tokens"))
          .as("token_entropy"))
  }

  /** Per-source token-distribution drift: KL(source ‖ corpus) — the
    * corpus-monitoring signal that a data source's language has shifted
    * (scraper drift, contamination, template floods). Exactness follows
    * the q_token_entropy identity: expand KL so every logarithm is LN of
    * an integer COUNT (engine-identical doubles), cast each term to
    * DECIMAL(28,14), and sum in decimal (order-independent):
    * KL = (Σ cs·ln cs − Σ cs·ln cc)/N_s + ln N_c − ln N_s.
    * Scale: token counts are two hash aggregates; the corpus-count join is
    * vocabulary-sized (broadcast); the final per-source rollup is #sources
    * rows, and the corpus total is a broadcast scalar.
    */
  def qSourceDrift(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val corpus = tok.groupBy(col("tok")).agg(count(lit(1)).as("cc"))
    val total = tok.agg(count(lit(1)).as("n_corpus"))
    val st = tok.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cs"))
    st.join(broadcast(corpus), "tok")
      .groupBy(col("source"))
      .agg(sum(col("cs")).cast("bigint").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(expr("CAST(CAST(cs AS DOUBLE) * LN(CAST(cs AS DOUBLE)) AS DECIMAL(28,14))"))
          .cast("double").as("s1"),
        sum(expr("CAST(CAST(cs AS DOUBLE) * LN(CAST(cc AS DOUBLE)) AS DECIMAL(28,14))"))
          .cast("double").as("s2"))
      .join(broadcast(total))
      .select(col("source"), col("n_tokens"), col("vocab"),
        r6((col("s1") - col("s2")) / col("n_tokens")
          + log(col("n_corpus").cast("double"))
          - log(col("n_tokens").cast("double"))).as("kl_vs_corpus"))
  }

  val qSourceDriftSql: String =
    """WITH t AS (SELECT source, UNNEST(string_split(text, ' ')) AS tok FROM documents),
      |t2 AS (SELECT source, tok FROM t WHERE tok <> ''),
      |cc AS (SELECT tok, COUNT(*) AS cc FROM t2 GROUP BY tok),
      |n AS (SELECT COUNT(*) AS n_corpus FROM t2),
      |st AS (SELECT source, tok, COUNT(*) AS cs FROM t2 GROUP BY 1, 2),
      |a AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS n_tokens, COUNT(*) AS vocab,
      |        CAST(SUM(CAST(CAST(cs AS DOUBLE) * LN(CAST(cs AS DOUBLE)) AS DECIMAL(28,14))) AS DOUBLE) AS s1,
      |        CAST(SUM(CAST(CAST(cs AS DOUBLE) * LN(CAST(cc AS DOUBLE)) AS DECIMAL(28,14))) AS DOUBLE) AS s2
      |      FROM st JOIN cc USING (tok) GROUP BY source)
      |SELECT source, n_tokens, vocab,
      |  ROUND((s1 - s2) / n_tokens + LN(CAST(n.n_corpus AS DOUBLE))
      |    - LN(CAST(n_tokens AS DOUBLE)), 6) AS kl_vs_corpus
      |FROM a, n""".stripMargin

  val qTokenEntropySql: String =
    """WITH t AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
      |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
      |        CAST(SUM(CAST(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE)) AS DECIMAL(28,14))) AS DOUBLE) AS s
      |      FROM c GROUP BY 1)
      |SELECT doc_id, n_tokens, n_distinct,
      |  ROUND(LN(CAST(n_tokens AS DOUBLE)) - s / n_tokens, 6) AS token_entropy
      |FROM a""".stripMargin

  /** Large×large interval-containment join via ops.IntervalJoin: for every
    * event, the CROSS-USER sessions (qSessionize's derivation) active at
    * its timestamp — the concurrency-attribution shape (ad impressions ×
    * campaign flights, trades × halts) that would otherwise plan a
    * quadratic BNLJ, since probe and intervals share no equi key. Bucketed
    * at the 30-min session gap: probe shuffles once on its single bucket,
    * intervals replicate ⌈len/1800⌉+1×, the pair meets in exactly one
    * bucket. The oracle is the naive BETWEEN join.
    * Cost class: ANSWER-PROPORTIONAL — growth law + measured anchors in
    * SCALE.md "Answer-proportional queries — sizing rules".
    */
  def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("epoch"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.events(s, dir).withColumn("epoch", unix_timestamp(col("ts")))
    val sess = ev
      .withColumn("gap",
        when(col("epoch") - lag(col("epoch"), 1).over(w) > 1800, 1)
          .when(lag(col("epoch"), 1).over(w).isNull, 1).otherwise(0))
      .withColumn("session_id", sum(col("gap")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("epoch")).as("s_start"), max(col("epoch")).as("s_end"))
      .select(col("s_start"), col("s_end"))
    val probe = ev.select(col("event_id"), col("event_type"), col("epoch"))
    graft.ops.IntervalJoin.containment(probe, "epoch", sess, "s_start", "s_end", 1800L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("event_id")).as("n_events"))
  }

  val qIntervalJoinSql: String =
    """WITH e AS (SELECT event_id, event_type, user_id,
      |             CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch FROM events),
      |g AS (SELECT user_id, event_id, epoch,
      |        CASE WHEN epoch - LAG(epoch, 1) OVER w > 1800 THEN 1
      |             WHEN LAG(epoch, 1) OVER w IS NULL THEN 1 ELSE 0 END AS gap
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY epoch, event_id)),
      |sess0 AS (SELECT user_id, epoch,
      |            CAST(SUM(gap) OVER (PARTITION BY user_id ORDER BY epoch, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |          FROM g),
      |sess AS (SELECT MIN(epoch) AS s_start, MAX(epoch) AS s_end
      |         FROM sess0 GROUP BY user_id, sid),
      |pairs AS (SELECT e.event_type, e.event_id
      |          FROM e JOIN sess ON e.epoch BETWEEN sess.s_start AND sess.s_end)
      |SELECT event_type, COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT event_id) AS n_events
      |FROM pairs GROUP BY event_type""".stripMargin

  /** Snapshot diff — change-data-capture between two table versions (the
    * MERGE/SCD primitive every warehouse sync runs): full outer join on
    * the key, classify added/removed/changed/unchanged, exact decimal
    * price deltas per class. The two "snapshots" are deterministic slices
    * of orders (old drops keys ≡0 mod 7; new drops ≡0 mod 11 and bumps
    * prices on ≡0 mod 5), so both engines derive identical versions.
    * Scale: one shuffle on the key; at 100 TB the same plan is the
    * backbone of incremental MERGE INTO.
    */
  def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val old = o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("price"))
    val neu = o.filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 5 === 0, dec(col("o_totalprice")) + lit(1000))
          .otherwise(dec(col("o_totalprice"))).as("price"))
    old.as("o").join(neu.as("n"), col("o.k") === col("n.k"), "full_outer")
      .select(
        when(col("o.k").isNull, "added")
          .when(col("n.k").isNull, "removed")
          .when(col("o.price") =!= col("n.price"), "changed")
          .otherwise("unchanged").as("change_type"),
        (coalesce(col("n.price"), lit(0)) - coalesce(col("o.price"), lit(0))).as("delta"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("delta")).cast("double").as("price_delta"))
  }

  val qSnapshotDiffSql: String =
    """WITH o AS (SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(12,4)) AS price
      |           FROM orders WHERE o_orderkey % 7 <> 0),
      |n AS (SELECT o_orderkey AS k,
      |        CASE WHEN o_orderkey % 5 = 0 THEN CAST(o_totalprice AS DECIMAL(12,4)) + 1000
      |             ELSE CAST(o_totalprice AS DECIMAL(12,4)) END AS price
      |      FROM orders WHERE o_orderkey % 11 <> 0),
      |j AS (SELECT CASE WHEN o.k IS NULL THEN 'added'
      |               WHEN n.k IS NULL THEN 'removed'
      |               WHEN o.price <> n.price THEN 'changed'
      |               ELSE 'unchanged' END AS change_type,
      |        COALESCE(n.price, 0) - COALESCE(o.price, 0) AS delta
      |      FROM o FULL OUTER JOIN n ON o.k = n.k)
      |SELECT change_type, COUNT(*) AS n_rows, CAST(SUM(delta) AS DOUBLE) AS price_delta
      |FROM j GROUP BY change_type""".stripMargin

  /** PageRank (5 damped iterations, d = 0.85) over the token-bigram
    * digraph — the iterative-graph-algebra operator family beyond
    * ConnectedComponents' label propagation: edge weight = bigram count,
    * transition P(w2|w1) = c/c1, dangling mass redistributed uniformly.
    * On this corpus the graph is vocabulary-sized; at web scale the SAME
    * plan holds — each iteration is one equi-join (ranks ⋈ edges) + one
    * hash aggregate, the edge table partitions by source key, and the
    * dangling term is a broadcast scalar, so an iteration's cost is one
    * shuffle of #edges rows regardless of iteration count.
    * Exactness: per-edge contributions are double products (identical on
    * both engines) summed as DECIMAL(28,14) (order-independent), the
    * q_perplexity recipe — so 5 chained iterations stay bit-identical and
    * the oracle unrolls them as 5 CTE stages. N is a vocabulary-sized
    * metadata count (driver scalar, like q_bloom_decontaminate's sizing).
    */
  def qPagerank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tkDf = Tables.documents(s, dir).select(split(col("text"), " ").as("tk"))
    val pairs = tkDf.filter(size(col("tk")) >= 2)
      .select(expr("explode(transform(sequence(0, size(tk)-2), i -> struct(tk[i] AS w1, tk[i+1] AS w2)))").as("pr"))
      .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
    val edges = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    // out and e are read by every round: truncated once, before the loop
    val out = graft.ops.Lineage.truncate(
      edges.groupBy(col("w1")).agg(sum(col("c")).cast("bigint").as("c1")))
    val e = graft.ops.Lineage.truncate(edges.join(out, "w1")
      .select(col("w1"), col("w2"),
        (col("c").cast("double") / col("c1").cast("double")).as("p")))
    // The DANGLING SET IS STATIC (a node dangles iff it never appears as a
    // bigram source), so resolve it ONCE into a boolean column instead of
    // re-deriving it with a per-round anti-join (r16, guide §1.2 /
    // §2.4 — the same "move invariant work out of the loop" discipline as
    // the r15 CC seed fold): each of the 5 rounds now computes the
    // dangling mass as a filter + aggregate over the already-checkpointed
    // ranks frame — no join, no broadcast build. `out.w1` is unique (it
    // is a groupBy key), so left-join + IS NOT NULL is row-for-row the
    // old left_anti semantics, and the decimal dangling sum is unchanged.
    val nodes = graft.ops.Lineage.truncate(tkDf.select(explode(col("tk")).as("token"))
      .filter(col("token") =!= "").distinct()
      .join(out.select(col("w1")), col("token") === col("w1"), "left")
      .select(col("token"), col("w1").isNotNull.as("__has_out")))
    val nN = nodes.count().toDouble
    var ranks = nodes.select(col("token"), (lit(1.0) / lit(nN)).as("rank"), col("__has_out"))
    for (_ <- 1 to 5) {
      // ranks feeds BOTH the contribution join and the dangling aggregate,
      // and 5 chained iterations would otherwise nest 2^5 copies of the
      // plan — truncate lineage each round (node-count-sized data), the
      // ConnectedComponents recipe. Lineage.truncate: localCheckpoint by
      // default, reliable checkpoint() under spark.graft.reliableCheckpoint.
      ranks = graft.ops.Lineage.truncate(ranks)
      val contrib = ranks.join(e, col("token") === col("w1"))
        .select(col("w2"),
          (col("rank") * col("p")).cast("double").cast(DecimalType(28, 14)).as("ct"))
      val insum = contrib.groupBy(col("w2")).agg(sum(col("ct")).cast("double").as("in_sum"))
      val dang = ranks.filter(!col("__has_out"))
        .agg(coalesce(sum(col("rank").cast(DecimalType(28, 14))).cast("double"), lit(0.0)).as("dang"))
      ranks = nodes.join(insum, col("token") === col("w2"), "left").drop("w2")
        .crossJoin(broadcast(dang))
        .select(col("token"),
          (lit(0.15) / lit(nN) + lit(0.85) *
            (coalesce(col("in_sum"), lit(0.0)) + col("dang") / lit(nN))).as("rank"),
          col("__has_out"))
    }
    ranks.orderBy(col("rank").desc, col("token")).limit(10)
      .select(col("token"), r6(col("rank")).as("pagerank"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007) over the customer–supplier interaction graph (edge = customer
    * repeatedly bought from supplier — ≥3 lineitems via the lineitem ⋈
    * orders equi-join; node ids disambiguated as 2·custkey / 2·suppkey+1).
    * Complements q_dedup_clusters' connected components (pure
    * reachability) with the DENSITY-sensitive grouping a curation
    * pipeline uses to find behavioral communities: each of 3 synchronous
    * rounds, every node adopts the plurality label among its neighbors
    * PLUS its own current label (the self-vote breaks the bipartite
    * oscillation synchronous LPA is known for), ties broken by min
    * label — fully deterministic, so the oracle replays all 3 rounds
    * CTE-for-CTE. Scale: one round = one equi-join (edges ⋈ labels) +
    * one hash aggregate + a per-node top-1 window — a bounded number of
    * edge-sized shuffles, independent of graph diameter; the labels
    * frame is node-sized and localCheckpoint'd per round (the q_pagerank
    * lineage recipe — labels feeds both the message join and the
    * self-vote union, and 3 chained rounds would otherwise nest 2^3
    * plan copies).
    */
  def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val ords = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    // repeat relationships only (>= 3 lineitems): the raw bipartite graph
    // is hub-dominated (every supplier touches ~every customer) and LPA
    // collapses it to one giant label; the repeat threshold keeps the
    // behaviorally meaningful edges and a real community structure
    val pairs = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
      .join(ords, col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("cu"), (col("l_suppkey") * 2 + 1).as("su"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 3)
      .select(col("cu"), col("su"))
    val edges = graft.ops.Lineage.truncate(pairs.select(col("cu").as("src"), col("su").as("dst"))
      .union(pairs.select(col("su").as("src"), col("cu").as("dst"))))
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to 3) {
      labels = graft.ops.Lineage.truncate(labels)
      val msgs = edges.join(labels, col("dst") === col("node"))
        .select(col("src").as("node"), col("label"))
      val votes = msgs.union(labels.select(col("node"), col("label")))
      labels = votes.groupBy(col("node"), col("label")).agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("node")).orderBy(col("n").desc, col("label"))))
        .filter(col("rn") === 1).select(col("node"), col("label"))
    }
    labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("label")).limit(20)
  }

  val qLabelPropSql: String = {
    val rounds = (1 to 3).map { t =>
      s"""v$t AS (SELECT e.src AS node, l.label FROM e JOIN l${t - 1} l ON e.dst = l.node
         |       UNION ALL SELECT node, label FROM l${t - 1}),
         |c$t AS (SELECT node, label, COUNT(*) AS n FROM v$t GROUP BY 1, 2),
         |l$t AS MATERIALIZED (SELECT node, label FROM (
         |        SELECT node, label,
         |          ROW_NUMBER() OVER (PARTITION BY node ORDER BY n DESC, label) AS rn
         |        FROM c$t) t$t
         |      WHERE rn = 1)""".stripMargin
    }
    s"""WITH p AS MATERIALIZED (
       |  SELECT CAST(o_custkey * 2 AS BIGINT) AS cu,
       |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS su
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
       |e AS MATERIALIZED (
       |  SELECT cu AS src, su AS dst FROM p UNION ALL SELECT su, cu FROM p),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e),
       |${rounds.mkString(",\n")}
       |SELECT label, COUNT(*) AS n_members FROM l3 GROUP BY 1
       |ORDER BY n_members DESC, label LIMIT 20""".stripMargin
  }

  /** Market-basket association rules (Agrawal et al. 1993) at the brand
    * granularity: which part brands co-occur in the same order beyond
    * chance. For each unordered brand pair — support n_AB/N, both
    * directional confidences, and lift = n_AB·N/(n_A·n_B), all from
    * exact basket counts (a basket = an order's DISTINCT brand set, so
    * per-item counts and pair counts live in the same unit). Min-support
    * floor 20 baskets, ranked by rounded lift (pair as tie-break), top 30.
    * Scale: the pair generation is a self-equi-join ON THE BASKET KEY
    * with fan-out bounded by basket size squared (brands per order ≤
    * items per order — the classic a-priori pair shape, never all-pairs
    * across baskets); item counts are a brand-sized table and the basket
    * total rides one broadcast row.
    */
  def qMarketBasket(s: SparkSession, dir: String): DataFrame = {
    // truncated: read four times by the returned plan
    val items = graft.ops.Lineage.truncate(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("bk"), col("p_brand").as("item"))
        .distinct())
    val n = items.agg(countDistinct(col("bk")).as("n"))
    val cnt = items.groupBy(col("item")).agg(count(lit(1)).as("c"))
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.bk") === col("b.bk") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 20)
    pairs
      .join(cnt.select(col("item").as("item_a"), col("c").as("n_a")), "item_a")
      .join(cnt.select(col("item").as("item_b"), col("c").as("n_b")), "item_b")
      .crossJoin(broadcast(n))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"), col("n_b"),
        r6(col("n_ab").cast("double") / col("n")).as("support"),
        r6(col("n_ab").cast("double") / col("n_a")).as("conf_a_to_b"),
        r6(col("n_ab").cast("double") / col("n_b")).as("conf_b_to_a"),
        r6(col("n_ab").cast("double") * col("n") / (col("n_a") * col("n_b"))).as("lift"))
      .orderBy(col("lift").desc, col("item_a"), col("item_b"))
      .limit(30)
  }

  val qMarketBasketSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS bk, p_brand AS item
      |               FROM lineitem JOIN part ON l_partkey = p_partkey),
      |n AS (SELECT COUNT(DISTINCT bk) AS n FROM items),
      |cnt AS (SELECT item, COUNT(*) AS c FROM items GROUP BY item),
      |pairs AS (SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
      |          FROM items a JOIN items b ON a.bk = b.bk AND a.item < b.item
      |          GROUP BY 1, 2 HAVING COUNT(*) >= 20)
      |SELECT item_a, item_b, n_ab, ca.c AS n_a, cb.c AS n_b,
      |  ROUND(CAST(n_ab AS DOUBLE) / n.n, 6) AS support,
      |  ROUND(CAST(n_ab AS DOUBLE) / ca.c, 6) AS conf_a_to_b,
      |  ROUND(CAST(n_ab AS DOUBLE) / cb.c, 6) AS conf_b_to_a,
      |  ROUND(CAST(n_ab AS DOUBLE) * n.n / (ca.c * cb.c), 6) AS lift
      |FROM pairs JOIN cnt ca ON ca.item = item_a
      |JOIN cnt cb ON cb.item = item_b, n
      |ORDER BY lift DESC, item_a, item_b LIMIT 30""".stripMargin

  /** HITS hubs & authorities (Kleinberg 1999) on the directed repeat
    * customer→supplier graph — the bipartite-centrality reading the
    * symmetric metrics (PageRank, LPA) can't give: who are the broadest
    * BUYERS (hubs: their score sums their suppliers' authority) and the
    * most endorsed SUPPLIERS (authorities: endorsed by strong hubs).
    * Two mutual-reinforcement rounds are run UNNORMALIZED so the whole
    * trajectory stays in exact BIGINTs (h₁ = outdegree, a₁ = Σ h₁,
    * h₂ = Σ a₁, a₂ = Σ h₂) and shares are taken once at the end — scores
    * grow ≤ maxdeg per round, far inside BIGINT at any tested sf; a
    * production run at web scale normalizes (L2) per round instead, a
    * config choice that does not change the plan shape. Ranking = exact
    * integer top-15 per side. Scale: each round is one equi-join
    * edge⨝score + one node-keyed aggregate — node-table-sized frames, the
    * qLabelProp/qPagerank shape.
    */
  def qHits(s: SparkSession, dir: String): DataFrame = {
    // truncated: every round's join reads edges
    val edges = graft.ops.Lineage.truncate(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("cu"), col("l_suppkey").as("su"))
        .agg(count(lit(1)).as("c")).filter(col("c") >= 3)
        .select(col("cu"), col("su")))
    val h1 = edges.groupBy(col("cu")).agg(count(lit(1)).as("h1"))
    val a1 = edges.join(h1, "cu")
      .groupBy(col("su")).agg(sum(col("h1")).cast("bigint").as("a1"))
    val h2 = edges.join(a1, "su")
      .groupBy(col("cu")).agg(sum(col("a1")).cast("bigint").as("h2"))
    val a2 = edges.join(h2, "cu")
      .groupBy(col("su")).agg(sum(col("h2")).cast("bigint").as("a2"))
    val ht = h2.agg(sum(col("h2")).cast("bigint").as("tot"))
    val at = a2.agg(sum(col("a2")).cast("bigint").as("tot"))
    val hubs = h2.crossJoin(broadcast(ht))
      .select(lit("hub").as("kind"), col("cu").as("node"),
        col("h2").as("score"), r6(col("h2").cast("double") / col("tot")).as("share"))
      .orderBy(col("score").desc, col("node")).limit(15)
    val auths = a2.crossJoin(broadcast(at))
      .select(lit("authority").as("kind"), col("su").as("node"),
        col("a2").as("score"), r6(col("a2").cast("double") / col("tot")).as("share"))
      .orderBy(col("score").desc, col("node")).limit(15)
    hubs.unionAll(auths)
  }

  val qHitsSql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT CAST(o_custkey AS BIGINT) AS cu, CAST(l_suppkey AS BIGINT) AS su
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |h1 AS (SELECT cu, COUNT(*) AS h1 FROM e GROUP BY cu),
      |a1 AS (SELECT su, CAST(SUM(h1) AS BIGINT) AS a1 FROM e JOIN h1 USING (cu) GROUP BY su),
      |h2 AS (SELECT cu, CAST(SUM(a1) AS BIGINT) AS h2 FROM e JOIN a1 USING (su) GROUP BY cu),
      |a2 AS (SELECT su, CAST(SUM(h2) AS BIGINT) AS a2 FROM e JOIN h2 USING (cu) GROUP BY su),
      |ht AS (SELECT CAST(SUM(h2) AS BIGINT) AS tot FROM h2),
      |at AS (SELECT CAST(SUM(a2) AS BIGINT) AS tot FROM a2),
      |hubs AS (SELECT 'hub' AS kind, cu AS node, h2 AS score,
      |           ROUND(CAST(h2 AS DOUBLE) / tot, 6) AS share
      |         FROM h2, ht ORDER BY score DESC, node LIMIT 15),
      |auths AS (SELECT 'authority' AS kind, su AS node, a2 AS score,
      |            ROUND(CAST(a2 AS DOUBLE) / tot, 6) AS share
      |          FROM a2, at ORDER BY score DESC, node LIMIT 15)
      |SELECT * FROM hubs UNION ALL SELECT * FROM auths""".stripMargin

  /** Distributed triangle counting over the undirected token co-occurrence
    * graph (edges = distinct adjacent-token pairs), using the classic
    * degree-ordered edge orientation (Cohen 2009 / Suri-Vassilvitskii
    * "Counting triangles and the curse of the last reducer"): each edge
    * points from its lower (degree, name) endpoint to the higher, so every
    * triangle is found exactly once from its lowest-degree corner and the
    * wedge fan-out per node is bounded by O(√m) even on power-law graphs —
    * THE skew defense that makes this shape survive 100 TB. Wedges close
    * via one equi-join back to the edge set; per-node counts explode the 3
    * corners. The degree table is vocabulary-sized and broadcast.
    */
  def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val tkDf = Tables.documents(s, dir).select(split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
    val e = tkDf
      .select(expr("explode(transform(sequence(0, size(tk)-2), i -> struct(tk[i] AS w1, tk[i+1] AS w2)))").as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "" && col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("a"), greatest(col("w1"), col("w2")).as("b"))
      .distinct()
    val deg = e.select(col("a").as("v")).union(e.select(col("b")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val o = e
      .join(broadcast(deg.as("da")), col("a") === col("da.v"))
      .join(broadcast(deg.as("db")), col("b") === col("db.v"))
      .select(
        when(struct(col("da.d"), col("a")) < struct(col("db.d"), col("b")), col("a"))
          .otherwise(col("b")).as("src"),
        when(struct(col("da.d"), col("a")) < struct(col("db.d"), col("b")), col("b"))
          .otherwise(col("a")).as("dst"),
        when(struct(col("da.d"), col("a")) < struct(col("db.d"), col("b")), col("db.d"))
          .otherwise(col("da.d")).as("dd"))
    val tri = o.as("o1")
      .join(o.as("o2"), col("o1.src") === col("o2.src") &&
        struct(col("o1.dd"), col("o1.dst")) < struct(col("o2.dd"), col("o2.dst")))
      .join(e.as("ec"),
        col("ec.a") === least(col("o1.dst"), col("o2.dst")) &&
        col("ec.b") === greatest(col("o1.dst"), col("o2.dst")))
      .select(col("o1.src").as("x"), col("o1.dst").as("y"), col("o2.dst").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("token"))
      .limit(15)
  }

  val qTrianglesSql: String =
    """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
      |b AS (SELECT tk[CAST(i AS INT)] AS w1, tk[CAST(i+1 AS INT)] AS w2
      |      FROM t, UNNEST(range(1, len(tk))) AS u(i)),
      |e AS (SELECT DISTINCT LEAST(w1, w2) AS a, GREATEST(w1, w2) AS b FROM b
      |      WHERE w1 <> w2 AND w1 <> '' AND w2 <> ''),
      |deg AS (SELECT v, COUNT(*) AS d FROM (
      |          SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
      |o AS (SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
      |             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst,
      |             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d END AS dd
      |      FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
      |tri AS (SELECT o1.src AS x, o1.dst AS y, o2.dst AS z
      |        FROM o o1 JOIN o o2 ON o1.src = o2.src AND (o1.dd, o1.dst) < (o2.dd, o2.dst)
      |        JOIN e ec ON ec.a = LEAST(o1.dst, o2.dst) AND ec.b = GREATEST(o1.dst, o2.dst))
      |SELECT v AS token, COUNT(*) AS n_triangles FROM (
      |  SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
      |GROUP BY v ORDER BY n_triangles DESC, token LIMIT 15""".stripMargin

  val qPagerankSql: String = {
    val iters = (1 to 5).map { k =>
      val prev = if (k == 1) "r0" else s"r${k - 1}"
      s"""c$k AS (SELECT e.w2, CAST(CAST(r.rank * e.p AS DOUBLE) AS DECIMAL(28,14)) AS ct
         |        FROM $prev r JOIN e ON r.token = e.w1),
         |s$k AS (SELECT w2, CAST(SUM(ct) AS DOUBLE) AS in_sum FROM c$k GROUP BY w2),
         |d$k AS (SELECT COALESCE(CAST(SUM(CAST(rank AS DECIMAL(28,14))) AS DOUBLE),
         |               CAST(0.0 AS DOUBLE)) AS dang
         |        FROM $prev WHERE token NOT IN (SELECT w1 FROM outd)),
         |r$k AS (SELECT nd.token,
         |          CAST(0.15 AS DOUBLE) / nn.n + CAST(0.85 AS DOUBLE) *
         |            (COALESCE(s$k.in_sum, CAST(0.0 AS DOUBLE)) + d$k.dang / nn.n) AS rank
         |        FROM nodes nd LEFT JOIN s$k ON nd.token = s$k.w2
         |        CROSS JOIN d$k CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS (SELECT string_split(text, ' ') AS tk FROM documents),
       |nodes AS (SELECT DISTINCT token
       |          FROM (SELECT UNNEST(tk) AS token FROM tk) t WHERE token <> ''),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |bi AS (SELECT tk[i] AS w1, tk[i+1] AS w2
       |       FROM tk, UNNEST(range(1, len(tk))) AS u(i) WHERE len(tk) >= 2),
       |ed AS (SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY 1, 2),
       |outd AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1 FROM ed GROUP BY 1),
       |e AS (SELECT w1, w2, CAST(c AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
       |      FROM ed JOIN outd USING (w1)),
       |r0 AS (SELECT token, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
       |$iters
       |SELECT token, ROUND(rank, 6) AS pagerank FROM r5
       |ORDER BY rank DESC, token LIMIT 10""".stripMargin
  }

  /** Sequential pattern mining — the top recurring 3-step event-type
    * sequences across user journeys (the "what do users do next"
    * behavioral query; the n-gram idea lifted from tokens to per-user
    * event streams). Contiguous windows via two leads over one per-user
    * sort; support counted both as occurrences and as distinct users.
    * Scale: one hash shuffle on user_id (both leads share the sort), then
    * a #patterns aggregate — no row multiplication, no self-join.
    */
  def qSequenceMining(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(" > ", col("event_type"), col("e2"), col("e3")).as("pattern"),
        col("user_id"))
      .groupBy(col("pattern"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_occurrences").desc, col("pattern"))
      .limit(20)
  }

  val qSequenceMiningSql: String =
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
      |    LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
      |  FROM events)
      |SELECT event_type || ' > ' || e2 || ' > ' || e3 AS pattern,
      |  COUNT(*) AS n_occurrences, COUNT(DISTINCT user_id) AS n_users
      |FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |GROUP BY 1 ORDER BY n_occurrences DESC, pattern LIMIT 20""".stripMargin

  /** Mutual information between two categorical corpus facets (lang ×
    * source) — the dependence screen for mixture design ("does source
    * composition leak language?") and for categorical feature selection.
    * I(X;Y) = Σ_xy p(xy)·ln(p(xy)/(p(x)p(y))) spelled over integer counts
    * as (Σ_xy n_xy·[ln(n_xy·N) − ln(n_x·n_y)]) / N so every logarithm is
    * LN of an integer (products stay far under 2^53 at verify scale);
    * per-cell terms cast to DECIMAL(28,14) and decimal-summed — the
    * q_perplexity exactness recipe. Output: N, the number of contingency
    * cells, and MI in nats. Scale: ONE corpus hash-aggregate builds the
    * contingency table; everything after is #cells-sized, with the
    * marginals broadcast.
    */
  def qMutualInfo(s: SparkSession, dir: String): DataFrame = {
    val conf = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_xy"))
    val rx = conf.groupBy(col("lang")).agg(sum(col("n_xy")).cast("bigint").as("n_x"))
    val cy = conf.groupBy(col("source")).agg(sum(col("n_xy")).cast("bigint").as("n_y"))
    val scal = conf.agg(sum(col("n_xy")).cast("bigint").as("n"))
    conf.join(broadcast(rx), "lang").join(broadcast(cy), "source")
      .crossJoin(broadcast(scal))
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_cells"),
        sum(expr(
          """CAST(CAST(n_xy * (LN(CAST(n_xy * n AS DOUBLE)) - LN(CAST(n_x * n_y AS DOUBLE)))
            |  AS DOUBLE) AS DECIMAL(28,14))""".stripMargin))
          .cast("double").as("mi_num"))
      .select(col("n"), col("n_cells"),
        r6(col("mi_num") / col("n")).as("mi_nats"))
  }

  val qMutualInfoSql: String =
    """WITH conf AS (SELECT lang, source, COUNT(*) AS n_xy
      |              FROM documents GROUP BY lang, source),
      |rx AS (SELECT lang, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM conf GROUP BY lang),
      |cy AS (SELECT source, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM conf GROUP BY source),
      |sc AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM conf)
      |SELECT MAX(n) AS n, COUNT(*) AS n_cells,
      |  ROUND(CAST(SUM(
      |    CAST(CAST(n_xy * (LN(CAST(n_xy * n AS DOUBLE)) - LN(CAST(n_x * n_y AS DOUBLE)))
      |      AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / MAX(n), 6) AS mi_nats
      |FROM conf JOIN rx USING (lang) JOIN cy USING (source), sc""".stripMargin

  /** Winsorization (percentile clipping) per event type — the robust-stats
    * outlier treatment every metrics/feature pipeline applies before
    * means: clip values to the [p05, p95] DISCRETE percentiles. The
    * bounds are rank-defined data values (rank ⌈p·n⌉ under a per-group
    * sort), NOT interpolated — so both engines derive bit-identical
    * bounds by construction, the clip comparisons are exact, and the
    * clipped sum stays on the money-scale decimal path (clipped values
    * are actual 2-dp data values). Ties in `value` leave rank-r's VALUE
    * well-defined regardless of tie order, so row_number needs no
    * tie-break. Scale: one partitioned window (per event type) + one
    * broadcast of the #types×2 bounds table; no global sort.
    */
  def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val counts = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val bounds = ev.withColumn("rn", row_number().over(w))
      .join(broadcast(counts), "event_type")
      .groupBy(col("event_type"))
      .agg(max(when(col("rn") === expr("(5 * n + 99) DIV 100"), col("value"))).as("p05"),
        max(when(col("rn") === expr("(95 * n + 99) DIV 100"), col("value"))).as("p95"))
    ev.join(broadcast(bounds), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        r6(max(col("p05"))).as("p05"),
        r6(max(col("p95"))).as("p95"),
        sum(when(col("value") < col("p05"), 1L).otherwise(0L)).cast("bigint").as("n_clip_lo"),
        sum(when(col("value") > col("p95"), 1L).otherwise(0L)).cast("bigint").as("n_clip_hi"),
        dsum(least(greatest(col("value"), col("p05")), col("p95"))).as("sum_clipped"))
  }

  val qWinsorizeSql: String =
    """WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
      |r AS (SELECT event_type, value,
      |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn
      |      FROM events),
      |b AS (SELECT r.event_type,
      |        MAX(CASE WHEN rn = (5 * n + 99) // 100 THEN value END) AS p05,
      |        MAX(CASE WHEN rn = (95 * n + 99) // 100 THEN value END) AS p95
      |      FROM r JOIN c USING (event_type) GROUP BY r.event_type)
      |SELECT event_type, COUNT(*) AS n,
      |  ROUND(MAX(p05), 6) AS p05, ROUND(MAX(p95), 6) AS p95,
      |  CAST(SUM(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
      |  CAST(SUM(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
      |  CAST(SUM(CAST(LEAST(GREATEST(value, p05), p95) AS DECIMAL(12,4))) AS DOUBLE) AS sum_clipped
      |FROM events JOIN b USING (event_type) GROUP BY event_type""".stripMargin

  /** Spearman rank correlation between value and the JSON payload metric
    * per event type — the robust (monotonic, outlier-insensitive)
    * companion to q_correlation's Pearson r. Tie-corrected via AVERAGE
    * ranks, carried as the INTEGER 2·rank (R2 = 2·cnt_below + cnt_at + 1),
    * so every moment sum (n, Σx, Σy, Σxy, Σx², Σy²) is exact and the only
    * nonlinear step is the final Pearson-on-ranks division, rounded with
    * one shared spelling. The squared-rank moments are accumulated in
    * DECIMAL(38,0), not BIGINT: Σx² ≈ 4n³/3 overflows a long once a
    * group passes ~1.3 M rows (the 100× rehearsal hit this at 2 M rows
    * per event type), and DuckDB cannot witness the bug because its
    * SUM(BIGINT) widens to HUGEINT — the per-element products are exact
    * in DECIMAL(18,0)² → (37,0) and the value reaching the double rho
    * formula is identical where both representations fit. Ranks come
    * from per-type DISTINCT-value tables (a partitioned window over
    * #distinct rows, never the corpus), joined back — the scalable rank
    * shape.
    */
  def qSpearman(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
        col("value"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .filter(col("k").isNotNull)
    def ranks(c: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("event_type")).orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.groupBy(col("event_type"), col(c)).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(w))
        .select(col("event_type"), col(c),
          (lit(2L) * col("cum") - col("cnt") + 1L).as(out))
    }
    val withRanks = ev
      .join(ranks("value", "r2x"), Seq("event_type", "value"))
      .join(ranks("k", "r2y"), Seq("event_type", "k"))
    val rho =
      """ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)""".stripMargin
    val dx = col("r2x").cast("decimal(18,0)")
    val dy = col("r2y").cast("decimal(18,0)")
    withRanks.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dx).as("sx"),
        sum(dy).as("sy"),
        sum(dx * dy).as("sxy"),
        sum(dx * dx).as("sxx"),
        sum(dy * dy).as("syy"))
      .select(col("event_type"), col("n"), expr(rho).as("spearman_rho"))
  }

  val qSpearmanSql: String =
    """WITH ev AS (SELECT event_type, value, CAST(props->>'$.k' AS BIGINT) AS k
      |            FROM events WHERE props->>'$.k' IS NOT NULL),
      |rx AS (SELECT event_type, value, 2 * SUM(COUNT(*)) OVER (
      |          PARTITION BY event_type ORDER BY value
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |        - COUNT(*) + 1 AS r2x
      |      FROM ev GROUP BY event_type, value),
      |ry AS (SELECT event_type, k, 2 * SUM(COUNT(*)) OVER (
      |          PARTITION BY event_type ORDER BY k
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |        - COUNT(*) + 1 AS r2y
      |      FROM ev GROUP BY event_type, k),
      |j AS (SELECT ev.event_type, r2x, r2y
      |      FROM ev JOIN rx USING (event_type, value) JOIN ry USING (event_type, k)),
      |m AS (SELECT event_type, COUNT(*) AS n,
      |        CAST(SUM(r2x) AS BIGINT) AS sx, CAST(SUM(r2y) AS BIGINT) AS sy,
      |        CAST(SUM(r2x * r2y) AS BIGINT) AS sxy,
      |        CAST(SUM(r2x * r2x) AS BIGINT) AS sxx,
      |        CAST(SUM(r2y * r2y) AS BIGINT) AS syy
      |      FROM j GROUP BY event_type)
      |SELECT event_type, n,
      |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS spearman_rho
      |FROM m""".stripMargin

  /** OHLC time-bar resampling — collapse the event stream into hourly
    * bars per event type: open/close = first/last value in the bar
    * (deterministic tie-break on event_id), high/low = max/min, volume =
    * decimal-exact sum. The classic downsampling shape for any metered
    * stream (ticks → candles, telemetry → rollups). Open/close are picked
    * by a per-bar window row_number in BOTH engines — not arg_min/max,
    * whose tie rules differ across engines; the window's (ts, event_id)
    * order is total, so the pick is unique. Scale: windows and the
    * aggregate are all partitioned by (event_type, bar) — one hash
    * shuffle, per-partition sorts bounded by bar occupancy, no global
    * anything.
    */
  def qOhlc(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("bar", date_trunc("hour", col("ts")))
    val wAsc = Window.partitionBy(col("event_type"), col("bar"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy(col("event_type"), col("bar"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val picked = ev
      .withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
    picked.groupBy(col("event_type"), col("bar"))
      .agg(count(lit(1)).as("n"),
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        dsum(col("value")).as("volume"))
  }

  val qOhlcSql: String =
    """WITH e AS (SELECT event_type, date_trunc('hour', ts) AS bar, ts, event_id, value,
      |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |                       ORDER BY ts ASC, event_id ASC) AS rn_a,
      |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |                       ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM events)
      |SELECT event_type, bar, COUNT(*) AS n,
      |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
      |  MAX(value) AS high, MIN(value) AS low,
      |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
      |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS volume
      |FROM e GROUP BY 1, 2""".stripMargin

  /** Mergeable-sketch algebra: per-event-type Datasketches HLL sketches of
    * the distinct user population, unioned across types and compared with
    * (a) the sketch built over the whole stream in one pass and (b) the
    * exact distinct count. THE 100 TB pattern this demonstrates is
    * re-aggregability: per-partition/per-day sketches can be stored small
    * and combined later without touching raw data — union-then-estimate
    * must land where build-once does. Like q_approx_distinct, the sketch
    * VALUE is engine-specific, so the gate checks the CONTRACT: exact
    * counts as BIGINTs plus verdicts that each estimate sits within ±3%
    * (lgK=12 → RSE ≈ 1.6%, 2σ) and that the union estimate stays within
    * 1% of the one-pass global estimate. Scale: sketch build is one
    * map-side-combinable aggregate; the union folds k sketch rows.
    */
  def qHllMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val per = ev.groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val unioned = per.agg(
      expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("union_est"))
    val global = ev.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("global_est"),
      count_distinct(col("user_id")).as("exact_all"))
    val perType = ev.groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_n"))
      .join(per.select(col("event_type"),
        expr("hll_sketch_estimate(sk)").as("est")), "event_type")
      .select(col("event_type"), col("exact_n").cast("bigint").as("exact_n"),
        (abs(col("est") - col("exact_n")) <= col("exact_n") * 0.03).as("est_ok"))
    val totals = global.crossJoin(broadcast(unioned))
      .select(lit("ALL").as("event_type"),
        col("exact_all").cast("bigint").as("exact_n"),
        (abs(col("global_est") - col("exact_all")) <= col("exact_all") * 0.03 &&
          abs(col("union_est") - col("global_est")) <= col("global_est") * 0.01)
          .as("est_ok"))
    perType.unionByName(totals)
  }

  val qHllMergeSql: String =
    """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_n,
      |  TRUE AS est_ok
      |FROM events GROUP BY event_type
      |UNION ALL
      |SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE FROM events""".stripMargin

  /** Seasonality profile — the (ISO weekday × hour) activity grid with a
    * seasonal index per cell (cell mean purchase value / grand mean):
    * the diagnostic that sizes resampling grains, staffing windows and
    * anomaly baselines before any model sees the series. Weekday comes
    * from Spark's weekday() (Monday = 0) + 1 ≡ DuckDB's isodow —
    * engine-portable without timezone-sensitive dayofweek conventions.
    * Exactness: cell and grand sums are decimal-exact; both means are
    * single identical IEEE divisions; the index divides those two
    * doubles in the same order on both engines. Scale: one
    * map-side-combinable aggregate to a ≤168-cell grid; the grand-total
    * row rides one broadcast.
    */
  def qSeasonality(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(expr("weekday(ts) + 1").as("isodow"), hour(col("ts")).as("hr"),
        col("value"))
    val cells = ev.groupBy(col("isodow"), col("hr"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
      .withColumn("cell_mean", col("sum_v") / col("n"))
    val grand = ev.agg(count(lit(1)).as("n_all"), dsum(col("value")).as("sum_all"))
      .withColumn("grand_mean", col("sum_all") / col("n_all"))
    cells.crossJoin(broadcast(grand))
      .select(col("isodow"), col("hr"), col("n"),
        r6(col("cell_mean")).as("cell_mean"),
        r6(col("grand_mean")).as("grand_mean"),
        r6(col("cell_mean") / col("grand_mean")).as("seasonal_index"),
        r6(col("n").cast("double") * 168.0 / col("n_all")).as("volume_index"))
  }

  val qSeasonalitySql: String =
    """WITH ev AS (SELECT isodow(ts) AS isodow, hour(ts) AS hr, value
      |            FROM events WHERE event_type = 'purchase'),
      |cells AS (SELECT isodow, hr, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_v
      |  FROM ev GROUP BY 1, 2),
      |g AS (SELECT COUNT(*) AS n_all,
      |    CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_all FROM ev)
      |SELECT isodow, hr, n,
      |  ROUND(sum_v / n, 6) AS cell_mean,
      |  ROUND(sum_all / n_all, 6) AS grand_mean,
      |  ROUND((sum_v / n) / (sum_all / n_all), 6) AS seasonal_index,
      |  ROUND(CAST(n AS DOUBLE) * 168.0 / n_all, 6) AS volume_index
      |FROM cells, g""".stripMargin

  /** Seasonal-naive forecast baseline — the score every fancy forecaster
    * must beat before it earns a deploy: predict each of the final
    * week's hourly purchase counts with the SAME HOUR LAST WEEK
    * (lag-168), and report the exact error profile (MAE, sMAPE, bias,
    * coverage). The join is hourly-aggregate against itself shifted by
    * 168 hours — gap-proof (a missing history hour simply scores as
    * uncovered, no contiguity assumption), all-integer errors
    * (|x − x₋₁₆₈| is a BIGINT; only the final ratios divide), and the
    * evaluation window is anchored to max(ts) − 7 days, a 1-row
    * broadcast. Scale: 100 TB of events collapses to #hours rows before
    * anything else happens; the lag join shuffles only the rollup —
    * the q_acf shape applied to forecasting.
    */
  def qForecastBaseline(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
    val cutoff = Tables.events(s, dir)
      .agg((max(col("ts")) - expr("INTERVAL 7 DAYS")).as("eval_start"))
    val target = hourly.crossJoin(broadcast(cutoff))
      .filter(col("hr") >= col("eval_start"))
    val hist = hourly.select((col("hr") + expr("INTERVAL 168 HOURS")).as("hr"),
      col("x").as("forecast"))
    val scored = target.join(hist, Seq("hr"), "left")
    scored.agg(
        count(lit(1)).as("n_hours"),
        sum(when(col("forecast").isNotNull, 1L).otherwise(0L)).cast("bigint").as("n_covered"),
        sum(when(col("forecast").isNotNull, abs(col("x") - col("forecast")))
          .otherwise(0L)).cast("bigint").as("abs_err_sum"),
        sum(when(col("forecast").isNotNull, col("x") - col("forecast"))
          .otherwise(0L)).cast("bigint").as("bias_sum"),
        sum(when(col("forecast").isNotNull,
            expr("CAST(2.0 * ABS(x - forecast) / (x + forecast) AS DECIMAL(28,14))"))
          .otherwise(expr("CAST(0 AS DECIMAL(28,14))"))).cast("double").as("smape_sum"))
      .select(col("n_hours"), col("n_covered"), col("abs_err_sum"), col("bias_sum"),
        r6(col("abs_err_sum").cast("double") / col("n_covered")).as("mae"),
        r6(col("bias_sum").cast("double") / col("n_covered")).as("mean_bias"),
        r6(col("smape_sum") / col("n_covered")).as("smape"),
        r6(col("n_covered").cast("double") / col("n_hours")).as("coverage"))
  }

  val qForecastBaselineSql: String =
    """WITH h AS (SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |c AS (SELECT MAX(ts) - INTERVAL 7 DAY AS eval_start FROM events),
      |t AS (SELECT h.* FROM h, c WHERE hr >= eval_start),
      |f AS (SELECT hr + INTERVAL 168 HOUR AS hr, x AS forecast FROM h),
      |sc AS (SELECT t.hr, t.x, f.forecast FROM t LEFT JOIN f USING (hr)),
      |agg AS (SELECT COUNT(*) AS n_hours,
      |    CAST(SUM(CASE WHEN forecast IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
      |    CAST(SUM(CASE WHEN forecast IS NOT NULL THEN ABS(x - forecast) ELSE 0 END) AS BIGINT)
      |      AS abs_err_sum,
      |    CAST(SUM(CASE WHEN forecast IS NOT NULL THEN x - forecast ELSE 0 END) AS BIGINT)
      |      AS bias_sum,
      |    CAST(SUM(CASE WHEN forecast IS NOT NULL
      |      THEN CAST(2.0 * ABS(x - forecast) / (x + forecast) AS DECIMAL(28,14))
      |      ELSE CAST(0 AS DECIMAL(28,14)) END) AS DOUBLE) AS smape_sum
      |  FROM sc)
      |SELECT n_hours, n_covered, abs_err_sum, bias_sum,
      |  ROUND(CAST(abs_err_sum AS DOUBLE) / n_covered, 6) AS mae,
      |  ROUND(CAST(bias_sum AS DOUBLE) / n_covered, 6) AS mean_bias,
      |  ROUND(smape_sum / n_covered, 6) AS smape,
      |  ROUND(CAST(n_covered AS DOUBLE) / n_hours, 6) AS coverage
      |FROM agg""".stripMargin

  /** Split conformal prediction interval for the seasonal-naive
    * forecaster — distribution-free uncertainty with a finite-sample
    * guarantee (Vovk; Lei et al. 2018): calibrate |x − x₋₁₆₈| residuals
    * on the pre-evaluation window, take q̂ = the ⌈0.9·(n+1)⌉-th smallest
    * calibration residual (the conformal quantile — computed exactly via
    * a [[graft.ops.PrefixSum]] pass over the DISTINCT integer residual
    * table, no sort, no ntile), and report how often the final week's
    * actuals land inside forecast ± q̂. Coverage ≈ 90% is the GUARANTEE,
    * not a hope — the property the spec asserts. Everything is integer
    * (residuals are BIGINT count differences; the quantile threshold is
    * exact ceiling arithmetic); only the final coverage ratio divides.
    * Scale: the calibration and eval frames are hourly-rollup-sized; the
    * q̂ scalar rides one broadcast row.
    */
  def qConformal(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
    val cutoff = Tables.events(s, dir)
      .agg((max(col("ts")) - expr("INTERVAL 7 DAYS")).as("eval_start"))
    val scored = hourly.join(
        hourly.select((col("hr") + expr("INTERVAL 168 HOURS")).as("hr"),
          col("x").as("forecast")), Seq("hr"))
      .crossJoin(broadcast(cutoff))
      .withColumn("resid", abs(col("x") - col("forecast")))
    val cal = scored.filter(col("hr") < col("eval_start"))
    val calDist = cal.groupBy(col("resid")).agg(count(lit(1)).as("c"))
    val cum = graft.ops.PrefixSum.cumsum(calDist, col("c"), Seq(col("resid")), "cum")
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    // Rank capped at n_cal: with < 9 calibration rows ⌈0.9·(n+1)⌉ > n and
    // the uncapped filter would match nothing (NULL q̂); the conformal
    // convention for that regime is q̂ = the largest calibration residual
    // (coverage guarantee degrades gracefully instead of vanishing).
    val qhat = cum.crossJoin(broadcast(nCal))
      .filter(col("cum") >=
        least(expr("CAST((9 * (n_cal + 1) + 9) div 10 AS BIGINT)"), col("n_cal")))
      .agg(min(col("resid")).as("q_hat"), max(col("n_cal")).as("n_cal"))
    scored.filter(col("hr") >= col("eval_start"))
      .crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("resid") <= col("q_hat"), 1L).otherwise(0L))
          .cast("bigint").as("n_covered"),
        max(col("q_hat")).as("q_hat"), max(col("n_cal")).as("n_cal"))
      .select(col("n_cal"), col("q_hat"), col("n_eval"), col("n_covered"),
        r6(col("n_covered").cast("double") / col("n_eval")).as("coverage"))
  }

  val qConformalSql: String =
    """WITH h AS (SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |c AS (SELECT MAX(ts) - INTERVAL 7 DAY AS eval_start FROM events),
      |sc AS (SELECT h.hr, h.x, f.forecast, ABS(h.x - f.forecast) AS resid, eval_start
      |       FROM h JOIN (SELECT hr + INTERVAL 168 HOUR AS hr, x AS forecast FROM h) f
      |       USING (hr), c),
      |cal AS (SELECT * FROM sc WHERE hr < eval_start),
      |cd AS (SELECT resid, COUNT(*) AS cnt FROM cal GROUP BY 1),
      |cum AS (SELECT resid, CAST(SUM(cnt) OVER (ORDER BY resid) AS BIGINT) AS cum FROM cd),
      |n AS (SELECT COUNT(*) AS n_cal FROM cal),
      |q AS (SELECT MIN(resid) AS q_hat, MAX(n_cal) AS n_cal
      |      FROM cum, n
      |      WHERE cum >= LEAST(CAST((9 * (n_cal + 1) + 9) // 10 AS BIGINT), n_cal)),
      |ev AS (SELECT * FROM sc WHERE hr >= eval_start)
      |SELECT q.n_cal, q.q_hat, COUNT(*) AS n_eval,
      |  CAST(SUM(CASE WHEN resid <= q_hat THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
      |  ROUND(CAST(SUM(CASE WHEN resid <= q_hat THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
      |    AS coverage
      |FROM ev, q GROUP BY 1, 2""".stripMargin

  /** Churn feature/label frame — the TEMPORAL-SPLIT training-data
    * generator, done with the discipline that makes it leak-free: a
    * global activity cutoff at max(ts) − 7 days, features computed
    * STRICTLY BEFORE the cutoff (counts per event type, exact-decimal
    * spend, distinct active days, recency gap), and the label — churned
    * = zero events in the final week — STRICTLY AT-OR-AFTER it. Users
    * with no pre-cutoff history are excluded (no features to train on),
    * exactly as a production labeler would. Scale: two user-keyed
    * aggregates and one left join; the cutoff is a 1-row broadcast.
    */
  def qChurnFeatures(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cutoff = ev.agg((max(col("ts")) - expr("INTERVAL 7 DAYS")).as("cutoff"))
    val withCut = ev.crossJoin(broadcast(cutoff))
    val feats = withCut.filter(col("ts") < col("cutoff"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).cast("bigint").as("n_views"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).cast("bigint").as("n_clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).cast("bigint").as("n_purchases"),
        dsum(when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0))).as("spend"),
        countDistinct(date_trunc("day", col("ts"))).as("days_active"),
        max(col("ts")).as("last_seen"),
        max(col("cutoff")).as("cutoff"))
      .withColumn("recency_days", datediff(col("cutoff"), col("last_seen")))
    val post = withCut.filter(col("ts") >= col("cutoff"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_post"))
    feats.join(post, Seq("user_id"), "left").na.fill(0L, Seq("n_post"))
      .select(col("user_id"), col("n_events"), col("n_views"), col("n_clicks"),
        col("n_purchases"), r6(col("spend")).as("spend"), col("days_active"),
        col("recency_days"), (col("n_post") === 0).as("churned"))
  }

  val qChurnFeaturesSql: String =
    """WITH c AS (SELECT MAX(ts) - INTERVAL 7 DAY AS cutoff FROM events),
      |pre AS (SELECT user_id, COUNT(*) AS n_events,
      |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      |    CAST(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(value AS DECIMAL(12,4)) ELSE CAST(0 AS DECIMAL(12,4)) END) AS DOUBLE)
      |      AS spend,
      |    COUNT(DISTINCT date_trunc('day', ts)) AS days_active,
      |    MAX(ts) AS last_seen, MAX(cutoff) AS cutoff
      |  FROM events, c WHERE ts < cutoff GROUP BY user_id),
      |post AS (SELECT user_id, COUNT(*) AS n_post
      |         FROM events, c WHERE ts >= cutoff GROUP BY user_id)
      |SELECT pre.user_id, n_events, n_views, n_clicks, n_purchases,
      |  ROUND(spend, 6) AS spend, days_active,
      |  CAST(date_diff('day', last_seen, cutoff) AS BIGINT) AS recency_days,
      |  COALESCE(post.n_post, 0) = 0 AS churned
      |FROM pre LEFT JOIN post ON pre.user_id = post.user_id""".stripMargin

  /** Multi-touch attribution — the marketing-analytics join that assigns
    * conversion credit to the touchpoints that preceded it: for every
    * purchase, the clicks by the SAME user in the preceding 7 days, with
    * the two standard credit models side by side (last-touch: the final
    * click gets 1.0; linear: every touch gets 1/n). The touch join is
    * equi on user_id with the 7-day range as a residual — per-user
    * fan-out is activity-bounded, and at adversarial skew the same
    * semantics drop into [[graft.ops.IntervalJoin]]'s bucketed shape.
    * The last click is resolved WITHOUT arg_max (whose tie rules differ
    * across engines): a (user, last_ts) equi-join back to clicks and a
    * MAX(click_id) group-by — total-order deterministic. Untouched
    * purchases stay in frame (left join, n_touches = 0).
    */
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val touches = p.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") > col("p_ts") - expr("INTERVAL 7 DAYS"), "left")
      .groupBy(col("purchase_id"), col("user_id"), col("p_ts"))
      .agg(count(col("click_id")).as("n_touches"),
        max(col("c_ts")).as("last_ts"),
        min(col("c_ts")).as("first_ts"))
    val lastClick = touches.filter(col("n_touches") > 0)
      .join(c, col("user_id") === col("c_user") && col("last_ts") === col("c_ts"))
      .groupBy(col("purchase_id")).agg(max(col("click_id")).as("last_click_id"))
    touches.join(lastClick, Seq("purchase_id"), "left")
      .select(col("purchase_id"), col("user_id"), col("p_ts"),
        col("n_touches"), col("first_ts"), col("last_ts"), col("last_click_id"),
        when(col("n_touches") > 0, r6(lit(1.0) / col("n_touches")))
          .otherwise(lit(null)).as("linear_credit"))
  }

  val qAttributionSql: String =
    """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id AS c_user, event_id AS click_id, ts AS c_ts
      |      FROM events WHERE event_type = 'click'),
      |t AS (SELECT purchase_id, user_id, p_ts,
      |        COUNT(click_id) AS n_touches,
      |        MAX(c_ts) AS last_ts, MIN(c_ts) AS first_ts
      |      FROM p LEFT JOIN c ON user_id = c_user
      |        AND c_ts <= p_ts AND c_ts > p_ts - INTERVAL 7 DAY
      |      GROUP BY 1, 2, 3),
      |lc AS (SELECT purchase_id, MAX(click_id) AS last_click_id
      |       FROM t JOIN c ON t.user_id = c.c_user AND t.last_ts = c.c_ts
      |       WHERE t.n_touches > 0 GROUP BY 1)
      |SELECT t.purchase_id, t.user_id, t.p_ts, t.n_touches, t.first_ts, t.last_ts,
      |  lc.last_click_id,
      |  CASE WHEN t.n_touches > 0 THEN ROUND(1.0 / t.n_touches, 6) END AS linear_credit
      |FROM t LEFT JOIN lc ON t.purchase_id = lc.purchase_id""".stripMargin

  /** RFM segmentation (recency / frequency / monetary) — the classic
    * customer-value partition every activation pipeline feeds on: per
    * customer, days since last order, order count, and exact-decimal
    * lifetime spend, each scored into quintiles (5 = best), then rolled
    * up per (r, f, m) segment with a named tier for the canonical
    * corners. Quintile ranks come from [[graft.ops.PrefixSum.cumsum]]
    * of 1 under a (metric, custkey) TOTAL order — three passes over the
    * customer aggregate, no ntile and no unpartitioned window — and the
    * score is the exact integer 5 − (5·(rank−1)) div n, so the oracle
    * (ROW_NUMBER under the same order) reproduces it bit-for-bit.
    * Scale: everything after the one orders pass runs on the
    * customer-sized aggregate; the anchor date and customer count ride
    * as 1-row broadcasts.
    */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val cust = o.groupBy(col("o_custkey").as("cust"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        dsum(col("o_totalprice")).as("monetary"))
    val anchor = o.agg(max(col("o_orderdate")).as("anchor"))
    val n = cust.agg(count(lit(1)).as("n"))
    val withR = cust.crossJoin(broadcast(anchor))
      .withColumn("recency_days", datediff(col("anchor"), col("last_order")))
    val r1 = graft.ops.PrefixSum.cumsum(withR, lit(1L),
      Seq(col("recency_days"), col("cust")), "rr")
    val r2 = graft.ops.PrefixSum.cumsum(r1, lit(1L),
      Seq(col("frequency").desc, col("cust")), "fr")
    val r3 = graft.ops.PrefixSum.cumsum(r2, lit(1L),
      Seq(col("monetary").desc, col("cust")), "mr")
    val scored = r3.crossJoin(broadcast(n))
      .withColumn("r_score", expr("CAST(5 - (5 * (rr - 1)) div n AS BIGINT)"))
      .withColumn("f_score", expr("CAST(5 - (5 * (fr - 1)) div n AS BIGINT)"))
      .withColumn("m_score", expr("CAST(5 - (5 * (mr - 1)) div n AS BIGINT)"))
      .withColumn("tier", expr(
        """CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
          |WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
          |WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
          |WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_promising'
          |ELSE 'core' END""".stripMargin))
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"), col("tier"))
      .agg(count(lit(1)).as("n_customers"),
        (sum(dec(col("monetary"))).cast("double") / count(lit(1))).as("avg_monetary_raw"))
      .select(col("r_score"), col("f_score"), col("m_score"), col("tier"),
        col("n_customers"), r6(col("avg_monetary_raw")).as("avg_monetary"))
  }

  val qRfmSql: String =
    """WITH c AS (SELECT o_custkey AS cust, MAX(o_orderdate) AS last_order,
      |    COUNT(*) AS frequency,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS monetary
      |  FROM orders GROUP BY 1),
      |a AS (SELECT MAX(o_orderdate) AS anchor FROM orders),
      |n AS (SELECT COUNT(*) AS n FROM c),
      |r AS (SELECT c.*, date_diff('day', last_order, anchor) AS recency_days FROM c, a),
      |rk AS (SELECT r.*,
      |    ROW_NUMBER() OVER (ORDER BY recency_days, cust) AS rr,
      |    ROW_NUMBER() OVER (ORDER BY frequency DESC, cust) AS fr,
      |    ROW_NUMBER() OVER (ORDER BY monetary DESC, cust) AS mr
      |  FROM r),
      |sc AS (SELECT rk.*,
      |    CAST(5 - (5 * (rr - 1)) // n AS BIGINT) AS r_score,
      |    CAST(5 - (5 * (fr - 1)) // n AS BIGINT) AS f_score,
      |    CAST(5 - (5 * (mr - 1)) // n AS BIGINT) AS m_score
      |  FROM rk, n),
      |lb AS (SELECT sc.*,
      |    CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
      |    WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
      |    WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
      |    WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_promising'
      |    ELSE 'core' END AS tier
      |  FROM sc)
      |SELECT r_score, f_score, m_score, tier, COUNT(*) AS n_customers,
      |  ROUND(CAST(SUM(CAST(monetary AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_monetary
      |FROM lb GROUP BY 1, 2, 3, 4""".stripMargin

  /** Kendall tau-b rank correlation between the hourly view and purchase
    * count series — the tie-robust, outlier-immune association measure
    * that complements q_spearman (rank Pearson) and q_correlation (raw
    * Pearson): tau's pair-counting definition has an exact integer core,
    * so the statistic is gated from BIGINT concordant/discordant/tie
    * counts with one IEEE division at the end. The quadratic pair join is
    * CALENDAR-bounded (hours × hours, never corpus-sized — the q_zipf /
    * q_acf aggregate-table-quadratic pattern): 100 TB of events still
    * collapses to #hours rows before any pairing, which is why this shape
    * survives scale while a row-level tau would not.
    * Cost class: ANSWER-PROPORTIONAL — growth law + measured anchors in
    * SCALE.md "Answer-proportional queries — sizing rules".
    */
  def qKendall(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .cast("bigint").as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .cast("bigint").as("y"))
    val p = hourly.as("a").join(hourly.as("b"), col("a.hr") < col("b.hr"))
      .select((col("a.x") - col("b.x")).as("dx"), (col("a.y") - col("b.y")).as("dy"))
    val n = hourly.agg(count(lit(1)).as("n_points"))
    p.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).cast("bigint").as("concordant"),
        sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).cast("bigint").as("discordant"),
        sum(when(col("dx") === 0, 1L).otherwise(0L)).cast("bigint").as("ties_x"),
        sum(when(col("dy") === 0, 1L).otherwise(0L)).cast("bigint").as("ties_y"))
      .crossJoin(broadcast(n))
      .select(col("n_points"), col("n_pairs"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"),
        r6((col("concordant") - col("discordant")).cast("double") /
          sqrt(((col("n_pairs") - col("ties_x")) * (col("n_pairs") - col("ties_y")))
            .cast("double"))).as("tau_b"))
  }

  val qKendallSql: String =
    """WITH h AS (SELECT date_trunc('hour', ts) AS hr,
      |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_points FROM h),
      |p AS (SELECT a.x - b.x AS dx, a.y - b.y AS dy
      |      FROM h a JOIN h b ON a.hr < b.hr),
      |agg AS (SELECT COUNT(*) AS n_pairs,
      |    CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
      |    CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
      |    CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
      |    CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
      |  FROM p)
      |SELECT n_points, n_pairs, concordant, discordant, ties_x, ties_y,
      |  ROUND(CAST(concordant - discordant AS DOUBLE) /
      |    SQRT(CAST((n_pairs - ties_x) * (n_pairs - ties_y) AS DOUBLE)), 6) AS tau_b
      |FROM agg, n""".stripMargin

  /** CUSUM drift detection on the hourly purchase-count series — the
    * sequential change-point monitor (Page 1954) a pipeline runs on its
    * own throughput: S_t = max(0, S_{t−1} + (x_t − μ)) flags sustained
    * upward drift from the series mean. The max-reset recursion is NOT a
    * prefix sum, but its closed form is: S_t = C_t − min(0, min_{i≤t} C_i)
    * with C = cumsum(x − μ) — the min is anchored at the implicit C_0 = 0,
    * so a series that starts above its mean (all prefix C_i > 0) still
    * accumulates from zero rather than resetting at row 1. Computed with
    * TWO [[graft.ops.PrefixSum]] passes (cumsum,
    * then running min) compute it with no unpartitioned window and no
    * sequential scan. Exactness: everything is scaled by n (C′_t =
    * n·Σx_i − t·total), which clears μ = total/n to exact BIGINTs; the
    * normalized S and the alarm threshold (50 cumulative purchases above
    * mean) divide back at the end. The peak row (argmax S) is flagged via
    * a 1-row max cross — the change-point estimate.
    */
  def qCusum(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("x"))
    val tot = hourly.agg(sum(col("x")).cast("bigint").as("total"),
      count(lit(1)).as("n"))
    val cum = graft.ops.PrefixSum.cumsum(
      graft.ops.PrefixSum.cumsum(hourly, col("x"), Seq(col("hr")), "cum_x"),
      lit(1L), Seq(col("hr")), "t")
    val c = cum.crossJoin(broadcast(tot))
      .withColumn("c_scaled", col("n") * col("cum_x") - col("t") * col("total"))
    val sFrame = graft.ops.PrefixSum.cummin(c, col("c_scaled"), Seq(col("hr")), "run_min")
      .withColumn("s_scaled", col("c_scaled") - least(col("run_min"), lit(0L)))
    val peak = sFrame.agg(max(col("s_scaled")).as("max_s"))
    sFrame.crossJoin(broadcast(peak))
      .select(col("hr"), col("x"), col("cum_x"),
        col("c_scaled"), col("s_scaled"),
        r6(col("s_scaled").cast("double") / col("n")).as("s_norm"),
        (col("s_scaled").cast("double") / col("n") > 50.0).as("is_alarm"),
        (col("s_scaled") === col("max_s")).as("is_peak"))
  }

  val qCusumSql: String =
    """WITH h AS (SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |tot AS (SELECT CAST(SUM(x) AS BIGINT) AS total, COUNT(*) AS n FROM h),
      |cum AS (SELECT hr, x,
      |    CAST(SUM(x) OVER (ORDER BY hr) AS BIGINT) AS cum_x,
      |    ROW_NUMBER() OVER (ORDER BY hr) AS t
      |  FROM h),
      |c AS (SELECT cum.*, n, total,
      |    CAST(n * cum_x - t * total AS BIGINT) AS c_scaled FROM cum, tot),
      |sf AS (SELECT c.*,
      |    CAST(c_scaled - LEAST(MIN(c_scaled) OVER (ORDER BY hr), 0) AS BIGINT) AS s_scaled FROM c),
      |pk AS (SELECT MAX(s_scaled) AS max_s FROM sf)
      |SELECT hr, x, cum_x, c_scaled, s_scaled,
      |  ROUND(CAST(s_scaled AS DOUBLE) / n, 6) AS s_norm,
      |  CAST(s_scaled AS DOUBLE) / n > 50.0 AS is_alarm,
      |  s_scaled = max_s AS is_peak
      |FROM sf, pk""".stripMargin

  /** Lag-k autocorrelation of the hourly value series per event type —
    * the time-series diagnostic (seasonality/persistence detection) that
    * decides resampling grain and feature windows in event pipelines.
    * Two-stage exactness: the hourly series is an exact BIGINT (cent-
    * scaled sums), lagged pairs come from an equi-join on hour+lag (gap-
    * proof — missing hours simply pair nothing, no window contiguity
    * assumption), and r is Pearson over exact integer moment sums —
    * q_correlation's proven spelling, one IEEE expression at the end.
    * Scale: the hourly rollup is map-side-combinable and shrinks 100 TB
    * of events to #types × #hours rows; everything after runs on the
    * rollup, and the lag join shuffles only that.
    */
  def qAcf(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .select(col("event_type"),
        expr("CAST(FLOOR(unix_timestamp(ts) / 3600) AS BIGINT)").as("h"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("h"))
      .agg(sum(col("cents")).as("x"))
    val a = hourly.withColumn("lag", explode(array(lit(1L), lit(2L), lit(3L))))
    val pairs = a.as("a").join(hourly.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("b.h") === col("a.h") + col("a.lag"))
      .select(col("a.event_type").as("event_type"), col("a.lag").as("lag"),
        col("a.x").as("x"), col("b.x").as("y"))
    pairs.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        r6((col("n_pairs") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx")) *
            (col("n_pairs") * col("syy") - col("sy") * col("sy")))).as("acf"))
  }

  val qAcfSql: String =
    """WITH hourly AS (
      |  SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS h,
      |    SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
      |  FROM events GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.event_type, l.lag, a.x AS x, b.x AS y
      |  FROM hourly a CROSS JOIN (VALUES (1), (2), (3)) l(lag)
      |  JOIN hourly b ON a.event_type = b.event_type AND b.h = a.h + l.lag),
      |m AS (
      |  SELECT event_type, CAST(lag AS BIGINT) AS lag, COUNT(*) AS n_pairs,
      |    CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(x * y) AS BIGINT) AS DOUBLE) AS sxy,
      |    CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxx,
      |    CAST(CAST(SUM(y * y) AS BIGINT) AS DOUBLE) AS syy
      |  FROM pairs GROUP BY 1, 2)
      |SELECT event_type, lag, n_pairs,
      |  ROUND((n_pairs * sxy - sx * sy) /
      |    SQRT((n_pairs * sxx - sx * sx) * (n_pairs * syy - sy * sy)), 6) AS acf
      |FROM m""".stripMargin

  /** Benford first-digit audit — the fraud/data-quality screen for
    * "does this numeric column look organically generated": observed
    * first-significant-digit counts of o_totalprice vs the Benford
    * expectation n·log10(1+1/d), with a χ² statistic. First digits come
    * from exact integer cents (never float formatting); expectations use
    * LN on integer-valued doubles (the q_pmi integer-LN discipline) and
    * are ROUND(6)ed BEFORE the χ² terms reuse them, so no unrounded
    * double chains between engines; the χ² total is an exact decimal sum
    * of the rounded per-digit terms. Scale: the digit histogram is a
    * 9-row map-side-combinable aggregate; everything after is
    * metadata-scale.
    */
  def qBenford(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.orders(s, dir)
      .select(substring(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
        .cast("string"), 1, 1).cast("int").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum(col("n_obs")).cast("bigint").as("n"))
    val per = obs.crossJoin(broadcast(tot))
      .withColumn("exp6", expr(
        """CAST(ROUND(n * (LN(CAST(d + 1 AS DOUBLE)) - LN(CAST(d AS DOUBLE)))
          |  / LN(CAST(10 AS DOUBLE)), 6) AS DECIMAL(18,6))""".stripMargin))
      .withColumn("term6", expr(
        """CAST(ROUND(POW(CAST(n_obs AS DOUBLE) - CAST(exp6 AS DOUBLE), 2)
          |  / CAST(exp6 AS DOUBLE), 6) AS DECIMAL(18,6))""".stripMargin))
    val rows = per.select(col("d").cast("string").as("digit"),
      col("n_obs").cast("bigint").as("n_obs"),
      col("exp6").cast("double").as("expected"),
      col("term6").cast("double").as("chi2_term"))
    val all = per.agg(sum(col("n_obs")).cast("bigint").as("n_obs"),
        sum(col("exp6")).cast(DecimalType(18, 6)).cast("double").as("expected"),
        sum(col("term6")).cast(DecimalType(18, 6)).cast("double").as("chi2_term"))
      .select(lit("ALL").as("digit"), col("n_obs"), col("expected"), col("chi2_term"))
    rows.unionByName(all)
  }

  val qBenfordSql: String =
    """WITH obs AS (
      |  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
      |                          AS VARCHAR), 1, 1) AS INT) AS d,
      |    COUNT(*) AS n_obs
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
      |per AS (
      |  SELECT d, n_obs,
      |    CAST(ROUND(n * (LN(CAST(d + 1 AS DOUBLE)) - LN(CAST(d AS DOUBLE)))
      |      / LN(CAST(10 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS exp6
      |  FROM obs CROSS JOIN tot),
      |t AS (
      |  SELECT d, n_obs, exp6,
      |    CAST(ROUND(POW(CAST(n_obs AS DOUBLE) - CAST(exp6 AS DOUBLE), 2)
      |      / CAST(exp6 AS DOUBLE), 6) AS DECIMAL(18,6)) AS term6
      |  FROM per)
      |SELECT CAST(d AS VARCHAR) AS digit, CAST(n_obs AS BIGINT) AS n_obs,
      |  CAST(exp6 AS DOUBLE) AS expected, CAST(term6 AS DOUBLE) AS chi2_term
      |FROM t
      |UNION ALL
      |SELECT 'ALL', CAST(SUM(n_obs) AS BIGINT),
      |  CAST(CAST(SUM(exp6) AS DECIMAL(18,6)) AS DOUBLE),
      |  CAST(CAST(SUM(term6) AS DECIMAL(18,6)) AS DOUBLE)
      |FROM t""".stripMargin

  /** Record-linkage scoring with the census-standard metric: the custom
    * codegen'd [[graft.functions.JaroWinkler]] on the q_damerau pair
    * frame, cross-validated per-pair against DuckDB's INDEPENDENT
    * `jaro_winkler_similarity` implementation through the oracle — two
    * codebases, same standard parameterization, every similarity value
    * equal to 6 dp. Per-pair scores are rounded then decimal-cast BEFORE
    * the sum so the rollup is exact (a raw double SUM would be
    * accumulation-order-dependent across engines). High-similarity pair
    * counts use a 0.93 threshold on the ROUNDED value — both engines
    * compare the same 6-dp decimal, so no raw-IEEE boundary exists in
    * the gate. Scale: q_edit_distance's shape — (brand × length-band)
    * equi-blocked self-join with NO broadcast hint (the build side grows
    * with the corpus; r7 verdict), codegen'd per-pair kernel,
    * map-side-combinable rollup. Candidate pairs are length-gated to
    * |len(a)-len(b)| <= 4 in BOTH engines — the standard record-linkage
    * length filter: a jw >= 0.93 hit needs jaro >= (0.93-0.4)/0.6 = 0.883
    * (jw = j + 0.1*min(l,4)*(1-j)), and with m <= min(la,lb) matches,
    * jaro <= (2 + min/max)/3, so 0.883 forces min/max >= 0.65 — on
    * ~20-50-char part names a length gap > 4 can only clear that near the
    * long end, and the 4-char window is the same one the edit-distance
    * family proves lossless, so one blocking constant serves the whole
    * string-metric family.
    */
  def qJaro(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val p = Tables.part(s, dir)
      .filter(pmod(col("p_partkey"), lit(10)) === 0)
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
    blockedNamePairs(p, maxGap = 4)
      .select(col("a.p_brand").as("brand"),
        round(expr("jaro_winkler(a.p_name, b.p_name)"), 6)
          .cast(DecimalType(10, 6)).as("jw"))
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("jw")).cast(DecimalType(18, 6)).cast("double").as("sum_jw"),
        max(col("jw")).cast("double").as("max_jw"),
        sum(when(col("jw") >= 0.93, 1L).otherwise(0L)).cast("bigint")
          .as("n_high"))
  }

  val qJaroSql: String =
    """WITH pr AS (
      |  SELECT a.p_brand AS brand,
      |    CAST(ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6)
      |         AS DECIMAL(10,6)) AS jw
      |  FROM part a JOIN part b
      |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |   AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 4
      |  WHERE a.p_partkey % 10 = 0 AND b.p_partkey % 10 = 0)
      |SELECT brand, COUNT(*) AS n_pairs,
      |  CAST(CAST(SUM(jw) AS DECIMAL(18,6)) AS DOUBLE) AS sum_jw,
      |  CAST(MAX(jw) AS DOUBLE) AS max_jw,
      |  CAST(SUM(CASE WHEN jw >= 0.93 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      |FROM pr GROUP BY brand""".stripMargin

  /** Entity resolution end-to-end — the composite the string metrics
    * exist FOR: brand-blocked candidate pairs, a 2-of-3 similarity vote
    * (levenshtein ≤ 4, damerau_levenshtein ≤ 4, rounded jaro_winkler ≥
    * 0.90 — transposition-aware and prefix-weighted metrics outvote the
    * plain one on typo-shaped variation), transitive closure over the
    * matched edges, and a per-brand entity census: records, edges,
    * resolved entities (matched clusters + singletons), largest cluster,
    * and records merged away. The oracle replays scoring with DuckDB's
    * independent metric implementations and resolves components with a
    * recursive CTE — different algorithm, same fixpoint (the
    * q_dedup_clusters discipline). The jw vote compares the ROUND(6)
    * value on both engines, so no raw-IEEE boundary gates. Scale:
    * (brand × length-band) equi-blocking bounds the quadratic per block
    * with NO broadcast hint (r7 verdict: the build side grows with the
    * corpus). The length gate |len(a)-len(b)| <= 4 is PROVABLY lossless
    * for the matched-edge set, so the oracle needs no blocking predicate:
    * a 2-of-3 vote must include lev <= 4 or dl <= 4 (only three voters),
    * and both metrics are >= |len(a)-len(b)|, so every edge that can win
    * the vote has length gap <= 4. Components run O(log diameter) rounds
    * over matched edges only; the census is map-side-combinable.
    * Cost class: ANSWER-PROPORTIONAL — growth law + measured anchors in
    * SCALE.md "Answer-proportional queries — sizing rules".
    */
  def qEntityResolution(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val p = Tables.part(s, dir)
      .filter(pmod(col("p_partkey"), lit(10)) === 0)
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
    // the scored pair frame is read by ConnectedComponents and by the edge
    // census: truncated once, so the blocked join and three string kernels
    // run once
    val pairs = graft.ops.Lineage.truncate(blockedNamePairs(p, maxGap = 4)
      .select(col("a.p_brand").as("brand"),
        col("a.p_partkey").as("ka"), col("b.p_partkey").as("kb"),
        expr("levenshtein(a.p_name, b.p_name)").as("lev"),
        expr("damerau_levenshtein(a.p_name, b.p_name)").as("dl"),
        round(expr("jaro_winkler(a.p_name, b.p_name)"), 6).as("jw"))
      .withColumn("votes",
        when(col("lev") <= 4, 1).otherwise(0) +
          when(col("dl") <= 4, 1).otherwise(0) +
          when(col("jw") >= 0.90, 1).otherwise(0))
      .filter(col("votes") >= 2)
      .select(col("brand"), col("ka"), col("kb")))
    val comp = graft.ops.ConnectedComponents.run(
      pairs.select(col("ka"), col("kb")), "ka", "kb")
    val labeled = p.select(col("p_brand").as("brand"), col("p_partkey").as("node"))
      .join(comp, Seq("node"), "left")
      .withColumn("ent", coalesce(col("component"), col("node")))
    val sizes = labeled.groupBy(col("brand"), col("ent"))
      .agg(count(lit(1)).as("sz"))
    val census = sizes.groupBy(col("brand"))
      .agg(sum(col("sz")).cast("bigint").as("n_records"),
        count(lit(1)).as("n_entities"),
        max(col("sz")).cast("bigint").as("max_entity_size"),
        (sum(col("sz")) - count(lit(1))).cast("bigint").as("n_merged"))
    val edgeCounts = pairs.groupBy(col("brand")).agg(count(lit(1)).as("n_edges"))
    census.join(edgeCounts, Seq("brand"), "left")
      .na.fill(0L, Seq("n_edges"))
      .select(col("brand"), col("n_records"), col("n_edges").cast("bigint").as("n_edges"),
        col("n_entities"), col("max_entity_size"), col("n_merged"))
  }

  val qEntityResolutionSql: String =
    """WITH RECURSIVE pr AS (
      |  SELECT a.p_brand AS brand, a.p_partkey AS ka, b.p_partkey AS kb,
      |    levenshtein(a.p_name, b.p_name) AS lev,
      |    damerau_levenshtein(a.p_name, b.p_name) AS dl,
      |    ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
      |  FROM part a JOIN part b
      |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |  WHERE a.p_partkey % 10 = 0 AND b.p_partkey % 10 = 0),
      |m AS (SELECT brand, ka, kb FROM pr
      |      WHERE (CASE WHEN lev <= 4 THEN 1 ELSE 0 END)
      |          + (CASE WHEN dl <= 4 THEN 1 ELSE 0 END)
      |          + (CASE WHEN jw >= 0.90 THEN 1 ELSE 0 END) >= 2),
      |edges AS (SELECT ka AS a, kb AS b FROM m
      |          UNION SELECT kb, ka FROM m),
      |reach(node, lbl) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
      |comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
      |rec AS (SELECT p_brand AS brand, p_partkey AS node FROM part
      |        WHERE p_partkey % 10 = 0),
      |lab AS (SELECT rec.brand, rec.node,
      |          COALESCE(comp.component, rec.node) AS ent
      |        FROM rec LEFT JOIN comp ON comp.node = rec.node),
      |sizes AS (SELECT brand, ent, COUNT(*) AS sz FROM lab GROUP BY 1, 2),
      |census AS (SELECT brand, CAST(SUM(sz) AS BIGINT) AS n_records,
      |    COUNT(*) AS n_entities, CAST(MAX(sz) AS BIGINT) AS max_entity_size,
      |    CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_merged
      |  FROM sizes GROUP BY brand),
      |ec AS (SELECT brand, COUNT(*) AS n_edges FROM m GROUP BY brand)
      |SELECT census.brand, n_records,
      |  CAST(COALESCE(n_edges, 0) AS BIGINT) AS n_edges,
      |  n_entities, max_entity_size, n_merged
      |FROM census LEFT JOIN ec ON ec.brand = census.brand""".stripMargin

  /** Mergeable QUANTILE sketches — the distribution-shaped sibling of
    * q_hll_merge's cardinality algebra: per-event-type Datasketches KLL
    * sketches of `value` (k=200), merged across types and compared with
    * the sketch built over the whole stream in one pass. Same 100 TB
    * re-aggregability story: per-day/per-partition kilobyte sketches
    * answer later percentile questions without re-scanning raw data, the
    * thing exact percentile computation fundamentally cannot do (it needs
    * a global sort per question). The sketch VALUE is seed/engine-
    * specific, so the gate checks the CONTRACT, with every audit computed
    * EXACTLY on the real data: each estimated quantile's true rank must
    * sit within ±3% of its target (k=200 → normalized rank error ≈1.65%
    * at 99% confidence), the merged union must agree with the one-pass
    * global the same way, and the sketch's item count must equal COUNT(*)
    * exactly (KLL counts n losslessly). Scale: sketch build is one
    * map-side-combinable aggregate; the union folds k tiny sketch rows;
    * the audit is one broadcast join + counting pass.
    */
  def qKllQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val per = ev.groupBy(col("event_type"))
      .agg(expr("kll_sketch_agg_double(value, 200)").as("sk"))
      // one partition for the k-row sketch table (theta-discipline: a
      // global merge otherwise runs one partial per partition, and empty
      // partials are where sketch-buffer edge cases live)
      .repartition(1)
    val perEst = per.select(col("event_type"),
      expr("kll_sketch_get_quantile_double(sk, 0.5)").as("est_p50"),
      expr("kll_sketch_get_quantile_double(sk, 0.9)").as("est_p90"),
      expr("kll_sketch_get_n_double(sk)").as("sk_n"))
    val perType = ev.join(broadcast(perEst), "event_type")
      .groupBy(col("event_type"))
      .agg(count(col("value")).as("exact_n"),
        sum(when(col("value") <= col("est_p50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("value") <= col("est_p90"), 1L).otherwise(0L)).as("r90"),
        max(col("sk_n")).as("sk_n"))
      .select(col("event_type"), col("exact_n").cast("bigint").as("exact_n"),
        (abs(col("r50") - col("exact_n") * 0.5) <= col("exact_n") * 0.03 &&
          abs(col("r90") - col("exact_n") * 0.9) <= col("exact_n") * 0.03).as("rank_ok"),
        (col("sk_n") === col("exact_n")).as("n_ok"))
    val mergedEst = per.agg(
      expr("kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.5)").as("m_p50"),
      expr("kll_sketch_get_n_double(kll_merge_agg_double(sk))").as("m_n"))
    val onePass = ev.agg(
      expr("kll_sketch_get_quantile_double(kll_sketch_agg_double(value, 200), 0.5)").as("g_p50"),
      count(col("value")).as("exact_all"))
    // exact ranks of BOTH global estimates in one audit pass
    val audit = ev.crossJoin(broadcast(onePass.crossJoin(broadcast(mergedEst))))
      .agg(count(col("value")).as("exact_all"),
        sum(when(col("value") <= col("m_p50"), 1L).otherwise(0L)).as("rm"),
        sum(when(col("value") <= col("g_p50"), 1L).otherwise(0L)).as("rg"),
        max(col("m_n")).as("m_n"))
      .select(lit("ALL").as("event_type"),
        col("exact_all").cast("bigint").as("exact_n"),
        (abs(col("rm") - col("exact_all") * 0.5) <= col("exact_all") * 0.03 &&
          abs(col("rg") - col("exact_all") * 0.5) <= col("exact_all") * 0.03).as("rank_ok"),
        (col("m_n") === col("exact_all")).as("n_ok"))
    perType.unionByName(audit)
  }

  val qKllQuantilesSql: String =
    """SELECT event_type, CAST(COUNT(value) AS BIGINT) AS exact_n,
      |  TRUE AS rank_ok, TRUE AS n_ok
      |FROM events GROUP BY event_type
      |UNION ALL
      |SELECT 'ALL', CAST(COUNT(value) AS BIGINT), TRUE, TRUE FROM events""".stripMargin

  /** Theta-sketch set algebra over the click/purchase user populations —
    * the capability HLL cannot offer: sketches that INTERSECT and
    * SUBTRACT, not just union. |A|, |B|, |A∩B|, |A∪B|, |A\B| are each
    * estimated from the two per-type sketches and audited against exact
    * distinct counts as contract verdicts (lgK=12 keeps the sketch in
    * exact mode far beyond the verify cardinalities, so ±3% is generous;
    * like q_approx_distinct/q_hll_merge the sketch VALUE is
    * engine-specific and the CONTRACT is what gates). The 100 TB story:
    * audience-overlap questions answered from kilobyte sketches without
    * re-scanning either population. Scale: two map-side-combinable
    * sketch aggregates + one exact-distinct pass for the audit.
    */
  def qThetaOps(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("event_type").isin("click", "purchase"))
    // ONE partition for the 2-row sketch table: theta_intersection_agg's
    // partial buffers cannot serialize EMPTY (an empty intersection is the
    // infinite set — datasketches throws), and a global aggregate runs one
    // partial per input partition, so any empty input partition (e.g. 13
    // shuffle partitions under the hostile sweep) would crash the job.
    val sk = ev.groupBy(col("event_type"))
      .agg(expr("theta_sketch_agg(user_id, 12)").as("sk"))
      .repartition(1)
    val est = sk.agg(
      expr("theta_sketch_estimate(theta_union_agg(sk, 12))").as("e_union"),
      expr("theta_sketch_estimate(theta_intersection_agg(sk))").as("e_inter"))
      .crossJoin(broadcast(sk.agg(expr(
        """theta_sketch_estimate(theta_difference(
          |  max_by(sk, event_type = 'click'),
          |  max_by(sk, event_type = 'purchase')))""".stripMargin).as("e_diff"))))
    val exact = ev.agg(
      count_distinct(when(col("event_type") === "click", col("user_id"))).as("n_click"),
      count_distinct(when(col("event_type") === "purchase", col("user_id"))).as("n_purchase"),
      count_distinct(col("user_id")).as("n_union"))
      .select(col("n_click"), col("n_purchase"), col("n_union"),
        (col("n_click") + col("n_purchase") - col("n_union")).as("n_inter"),
        (col("n_union") - col("n_purchase")).as("n_click_only"))
    exact.crossJoin(broadcast(est))
      .select(col("n_click").cast("bigint").as("n_click"),
        col("n_purchase").cast("bigint").as("n_purchase"),
        col("n_union").cast("bigint").as("n_union"),
        col("n_inter").cast("bigint").as("n_inter"),
        col("n_click_only").cast("bigint").as("n_click_only"),
        (abs(col("e_union") - col("n_union")) <= col("n_union") * 0.03).as("union_ok"),
        (abs(col("e_inter") - col("n_inter")) <= col("n_inter") * 0.03).as("inter_ok"),
        (abs(col("e_diff") - col("n_click_only")) <= col("n_click_only") * 0.03)
          .as("diff_ok"))
  }

  val qThetaOpsSql: String =
    """WITH e AS (SELECT event_type, user_id FROM events
      |           WHERE event_type IN ('click', 'purchase'))
      |SELECT
      |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS BIGINT) AS n_click,
      |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS n_purchase,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_union,
      |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
      |     + COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
      |     - COUNT(DISTINCT user_id) AS BIGINT) AS n_inter,
      |  CAST(COUNT(DISTINCT user_id)
      |     - COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS n_click_only,
      |  TRUE AS union_ok, TRUE AS inter_ok, TRUE AS diff_ok
      |FROM e""".stripMargin

  /** Count-Min sketch — the linear mergeable frequency sketch (Cormode &
    * Muthukrishnan '05) built from pure relational ops: the sketch IS a
    * (row, bucket) → count table (depth 4 × width 1024, hash_j =
    * Murmur3(key, j) mod W via Spark's codegen'd `hash`), so "update" is a
    * groupBy and "merge" is element-wise sum — no custom aggregation
    * buffer needed. Three properties are gated as verdicts (the sketch
    * cells are hash-layout-specific, so like q_hll_merge the oracle
    * carries exact counts + TRUE flags):
    *  - `est_ge_exact`: CMS never undercounts (a bucketing bug that drops
    *    rows breaks this hard guarantee);
    *  - `est_within`: estimate error ≤ e·N/W per the standard (ε, δ)
    *    bound with δ = e⁻⁴ — deterministic here since data and hashes are
    *    fixed (verified empirically at every verify sf);
    *  - `merge_exact`: the union of per-event_type partial sketches must
    *    equal the one-pass global sketch CELL-FOR-CELL (CMS linearity) —
    *    the store-small/combine-later property 100 TB rollups rely on,
    *    same algebra gate as q_hll_merge's union-vs-one-pass.
    * Scale: sketch build is a map-side-combinable groupBy over (depth ×
    * rows) pairs; the probe side is the k-row top-k table.
    */
  def qCountMin(s: SparkSession, dir: String): DataFrame = {
    val W = 1024
    val depth = 4
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"))
    val rows = ev
      .select(col("user_id"), col("event_type"),
        explode(expr(s"sequence(0, ${depth - 1})")).as("j"))
      .withColumn("b", pmod(hash(col("user_id"), col("j")), lit(W)))
    // the global sketch feeds BOTH the merge-linearity audit and the
    // top-k probe join; truncate the 4096-cell frame so its (depth × rows)
    // explode+hash build runs once (the sketch is the thing you'd store)
    val global = graft.ops.Lineage.truncate(
      rows.groupBy(col("j"), col("b")).agg(count(lit(1)).as("c")))
    val merged = rows.groupBy(col("event_type"), col("j"), col("b"))
      .agg(count(lit(1)).as("pc"))
      .groupBy(col("j"), col("b")).agg(sum(col("pc")).as("mc"))
    val mergeOk = global.join(merged, Seq("j", "b"), "full_outer")
      .agg(coalesce(sum(when(col("c") <=> col("mc"), 0L).otherwise(1L)), lit(0L))
        .as("n_bad"))
      .select((col("n_bad") === 0L).as("merge_exact"))
    val totals = ev.agg(count(lit(1)).as("n_total"))
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id")).limit(10)
    exact
      .select(col("user_id"), col("exact_n"),
        explode(expr(s"sequence(0, ${depth - 1})")).as("j"))
      .withColumn("b", pmod(hash(col("user_id"), col("j")), lit(W)))
      .join(global, Seq("j", "b"))
      .groupBy(col("user_id"), col("exact_n"))
      .agg(min(col("c")).as("est"))
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(mergeOk))
      .select(col("user_id"), col("exact_n").cast("bigint").as("exact_n"),
        (col("est") >= col("exact_n")).as("est_ge_exact"),
        (col("est") - col("exact_n") <=
          lit(math.E) * col("n_total") / lit(W)).as("est_within"),
        col("merge_exact"))
  }

  val qCountMinSql: String =
    """WITH c AS (SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY 1
      |           ORDER BY exact_n DESC, user_id LIMIT 10)
      |SELECT user_id, CAST(exact_n AS BIGINT) AS exact_n,
      |  TRUE AS est_ge_exact, TRUE AS est_within, TRUE AS merge_exact
      |FROM c""".stripMargin

  /** Frequent-items sketch (Datasketches approx_top_k) audited against
    * the exact token counts: the corpus vocabulary fits far inside
    * maxItemsTracked=8192, so every tracked count is EXACT — the verdict
    * demands the exact top-5 tokens (deterministic (count desc, token)
    * order) each appear in the sketch's top-20 with their exact count.
    * The one-pass mergeable alternative to q_heavy_hitters' exact
    * two-pass groupBy when the item domain explodes. Scale: the sketch
    * aggregate is map-side combinable; only the k-row audit joins it.
    */
  def qApproxTopk(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val sk = tok.agg(expr("approx_top_k(tok, 20, 8192)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("tok"), col("e.count").as("sk_count"))
    val exact = tok.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(5)
    exact.join(broadcast(sk), Seq("tok"), "left")
      .select(col("tok"), col("n"),
        (col("sk_count").isNotNull && col("sk_count") === col("n")).as("sketch_ok"))
  }

  val qApproxTopkSql: String =
    """WITH t AS (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok
      |      ORDER BY n DESC, tok LIMIT 5)
      |SELECT tok, n, TRUE AS sketch_ok FROM c""".stripMargin

  /** Robust outlier detection via median absolute deviation — the
    * companion to q_zscore_outliers that a heavy-tailed value column
    * actually needs (mean/std are themselves dragged by the outliers they
    * are supposed to flag; median/MAD have a 50% breakdown point). Flag =
    * |v − median| > 3·1.4826·MAD (1.4826 ≈ 1/Φ⁻¹(3/4) rescales MAD to a
    * Gaussian σ). Both the median and the MAD are interpolated
    * percentiles ROUNDED to 6dp before any downstream use — the two
    * engines' interpolations can differ in the last ulp, so the contract
    * is defined on the rounded statistics (the q_percentiles lesson
    * applied to DERIVED statistics, not just reported ones). Scale: two
    * percentile passes per group + one counting pass, all keyed on
    * event_type.
    */
  def qAnomalyMad(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(r6(expr("percentile(value, 0.5)")).as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy(col("event_type"), col("med"))
      .agg(r6(expr("percentile(abs(value - med), 0.5)")).as("mad"))
    ev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("value") - col("med")) > col("mad") * 4.4478, 1L)
          .otherwise(0L)).cast("bigint").as("n_outliers"))
      .select(col("event_type"), col("n"), col("med"), col("mad"), col("n_outliers"))
  }

  val qAnomalyMadSql: String =
    """WITH med AS (SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
      |             FROM events GROUP BY 1),
      |mad AS (SELECT e.event_type, med,
      |          ROUND(quantile_cont(abs(value - med), 0.5), 6) AS mad
      |        FROM events e JOIN med USING (event_type) GROUP BY 1, 2)
      |SELECT e.event_type, COUNT(*) AS n, med, mad,
      |  CAST(SUM(CASE WHEN abs(value - med) > mad * 4.4478 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM events e JOIN mad USING (event_type)
      |GROUP BY 1, 3, 4""".stripMargin

  /** 2-D skyline (Pareto frontier): customers not dominated in (total
    * spend, order count) — q dominates p iff q ≥ p in both and > in one.
    * The naive formulation is a quadratic NOT-EXISTS theta self-join (the
    * oracle spells exactly that, brute force); the Spark shape is the
    * sort-scan identity: group points by spend, take each group's max
    * count, and a point is dominated iff the running max of counts over
    * STRICTLY-larger spends reaches its count, or a same-spend point
    * strictly beats it. The running max is [[graft.ops.PrefixSum.cummax]]
    * — the generalized distributed scan, no unpartitioned window, no
    * pairwise product anywhere; the strictly-larger-spend max comes from
    * joining each group to its predecessor rank (rank = cumsum of 1).
    * Scale: two range-partitioned scans + two equi-joins, all balanced.
    */
  def qSkyline(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(dsum(col("o_totalprice")).as("spend"), count(lit(1)).as("n"))
    val g = pts.groupBy(col("spend")).agg(max(col("n")).as("gmax_n"))
    val ranked = graft.ops.PrefixSum.cumsum(g, lit(1L), Seq(col("spend").desc), "rn")
    val scanned = graft.ops.PrefixSum.cummax(
      ranked, col("gmax_n"), Seq(col("spend").desc), "cm")
    // exclusive (strictly-larger-spend) running max = predecessor's cm
    val excl = scanned.select((col("rn") + 1).as("rn"), col("cm").as("excl_max"))
    val gx = scanned.join(excl, Seq("rn"), "left")
    pts.join(gx.select(col("spend"), col("gmax_n"), col("excl_max")), "spend")
      .filter(!(coalesce(col("excl_max") >= col("n"), lit(false)) ||
        col("gmax_n") > col("n")))
      .select(col("custkey"), col("spend"), col("n"))
  }

  val qSkylineSql: String =
    """WITH pts AS (SELECT o_custkey AS custkey,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS spend,
      |         COUNT(*) AS n
      |       FROM orders GROUP BY 1)
      |SELECT custkey, spend, n FROM pts p
      |WHERE NOT EXISTS (SELECT 1 FROM pts q
      |  WHERE q.spend >= p.spend AND q.n >= p.n
      |    AND (q.spend > p.spend OR q.n > p.n))""".stripMargin

  /** Weighted median — the sampling-weights quantile (survey estimation,
    * importance-weighted corpora): per return flag, the smallest price
    * whose cumulative quantity weight reaches half the total. NO
    * interpolation and NO floats in the selection: the pick is the first
    * row where 2·cumw ≥ totw, an integer cross-multiplication over exact
    * BIGINT weights, so unlike percentile() there is no engine
    * interpolation to round away. The cumulative weight is a window
    * cumsum PARTITIONED by the group (no global window); the pick is
    * min_by over the qualifying rows.
    */
  def qWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("price"))
      .agg(sum(col("l_quantity").cast("bigint")).as("w"))
    val wspec = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("price")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = li.groupBy(col("l_returnflag")).agg(sum(col("w")).as("totw"))
    li.withColumn("cumw", sum(col("w")).over(wspec))
      .join(broadcast(tot), "l_returnflag")
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy(col("l_returnflag"), col("totw"))
      .agg(min(col("price")).as("weighted_median"))
      .select(col("l_returnflag"), col("totw").cast("bigint").as("total_weight"),
        col("weighted_median"))
  }

  val qWeightedMedianSql: String =
    """WITH li AS (SELECT l_returnflag, l_extendedprice AS price,
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |       FROM lineitem GROUP BY 1, 2),
      |c AS (SELECT l_returnflag, price, w,
      |        SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |        SUM(w) OVER (PARTITION BY l_returnflag) AS totw
      |      FROM li)
      |SELECT l_returnflag, CAST(totw AS BIGINT) AS total_weight,
      |  MIN(price) AS weighted_median
      |FROM c WHERE cumw * 2 >= totw GROUP BY 1, 2""".stripMargin

  /** Gini coefficient of customer spend — the concentration metric every
    * corpus/source-mix audit wants (how unequal is the contribution
    * distribution?): G = (2·Σ rank·x)/(n·Σx) − (n+1)/n over ascending
    * spend. Ranks come from [[graft.ops.PrefixSum.cumsum]] of 1 under the
    * total (spend, custkey) order — no unpartitioned window at any scale —
    * and Σ rank·x accumulates as DECIMAL(28,4) (rank is an exact BIGINT,
    * x an exact money decimal), so both engines hand the same integers to
    * the one final expression. Scale: one aggregate to points, one
    * range-partitioned scan, one 1-row fold.
    */
  def qGini(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice")).as("spend"))
    val ranked = graft.ops.PrefixSum.cumsum(
      pts, lit(1L), Seq(col("spend"), col("o_custkey")), "rnk")
    ranked.agg(count(lit(1)).as("n"),
        sum(dec(col("spend"))).cast("double").as("sx"),
        sum((col("rnk") * dec(col("spend"))).cast(DecimalType(28, 4)))
          .cast("double").as("srx"))
      .select(col("n"), r6(col("sx")).as("total_spend"),
        r6(lit(2.0) * col("srx") / (col("n") * col("sx"))
          - (col("n") + lit(1.0)) / col("n")).as("gini"))
  }

  val qGiniSql: String =
    """WITH pts AS (SELECT o_custkey,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS spend
      |       FROM orders GROUP BY 1),
      |r AS (SELECT spend,
      |        row_number() OVER (ORDER BY spend, o_custkey) AS rnk
      |      FROM pts)
      |SELECT COUNT(*) AS n,
      |  ROUND(CAST(SUM(CAST(spend AS DECIMAL(12,4))) AS DOUBLE), 6) AS total_spend,
      |  ROUND(2.0 * CAST(SUM(CAST(rnk * CAST(spend AS DECIMAL(12,4)) AS DECIMAL(28,4))) AS DOUBLE)
      |        / (COUNT(*) * CAST(SUM(CAST(spend AS DECIMAL(12,4))) AS DOUBLE))
      |      - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
      |FROM r""".stripMargin

  /** Incremental aggregate maintenance — the pattern that keeps a 100 TB
    * rollup fresh without nightly full recomputes: the event stream splits
    * into a "yesterday" batch and a "today" delta (here: by event_id
    * parity — any deterministic split works, the algebra is what's under
    * test), each is aggregated INDEPENDENTLY, and the two partial states
    * merge by the re-aggregation algebra (counts and decimal sums add,
    * min/max fold, avg recomposes from merged sums — never from partial
    * avgs). The gate compares the MERGED state against the oracle's
    * single-pass aggregate over everything, so what is verified is
    * exactly the claim that merge(agg(A), agg(B)) = agg(A ∪ B). Decimal
    * accumulation makes the sums associative for real, not just in exact
    * arithmetic on paper. Scale: two independent aggregates + a
    * #groups-row merge join.
    */
  def qDeltaAgg(s: SparkSession, dir: String): DataFrame = {
    def part(pred: org.apache.spark.sql.Column) =
      Tables.events(s, dir).filter(pred)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).as("sv"),
          min(col("value")).as("mn"),
          max(col("value")).as("mx"))
    val old = part(col("event_id") % 2 === 0)
      .select(col("event_type"), col("n").as("n1"), col("sv").as("sv1"),
        col("mn").as("mn1"), col("mx").as("mx1"))
    val delta = part(col("event_id") % 2 === 1)
      .select(col("event_type"), col("n").as("n2"), col("sv").as("sv2"),
        col("mn").as("mn2"), col("mx").as("mx2"))
    old.join(delta, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n"),
        (coalesce(col("sv1"), lit(0).cast(D)) + coalesce(col("sv2"), lit(0).cast(D)))
          .cast("double").as("sum_value"),
        least(col("mn1"), col("mn2")).as("min_value"),
        greatest(col("mx1"), col("mx2")).as("max_value"))
      .withColumn("avg_value", r6(col("sum_value") / col("n")))
  }

  val qDeltaAggSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value,
      |  MIN(value) AS min_value, MAX(value) AS max_value,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_value
      |FROM events GROUP BY event_type""".stripMargin

  /** Rendezvous (highest-random-weight) shard layout — the deterministic
    * doc→shard assignment a distributed training-data writer uses, plus
    * the property that makes HRW the right choice at 100 TB: growing the
    * fleet from 8 to 9 shards moves only ~1/9 of the corpus (every other
    * consistent-assignment scheme rebalances more). Per doc, weight(doc,
    * shard) is the proven md5-nibble integer (no RNG — reruns and both
    * engines agree bit-for-bit); the winner is the argmax with a
    * lower-shard tie-break. The query assigns every document under 8 and
    * 9 shards and reports, per shard: population under each fleet, bytes,
    * and how many of its 9-shard docs ARRIVED from another shard — the
    * exact movement count the minimal-disruption claim is about. Scale:
    * 9 hashes per doc, one groupBy(doc) with a struct-max combiner (no
    * window sort), then a shard-sized rollup — all map-side combinable.
    */
  def qShardLayout(s: SparkSession, dir: String): DataFrame = {
    val wExpr = md5IntExpr(
      "concat(cast(doc_id as string), '#', cast(shard as string))", 1, 12)
    val weights = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(8))).as("shard"))
      .withColumn("w", expr(wExpr))
    // argmax via struct-max: (w, -shard) orders ties toward the LOWER shard
    val picks = weights
      .groupBy(col("doc_id"), col("n_chars"))
      .agg(
        max(when(col("shard") < 8,
          struct(col("w"), (col("shard") * -1).as("ns")))).as("m8"),
        max(struct(col("w"), (col("shard") * -1).as("ns"))).as("m9"))
      .select(col("doc_id"), col("n_chars"),
        (col("m8").getField("ns") * -1).as("s8"),
        (col("m9").getField("ns") * -1).as("s9"))
    val a9 = picks.groupBy(col("s9").as("shard"))
      .agg(count(lit(1)).as("n_docs9"),
        sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L)).cast("bigint")
          .as("n_inbound_moved"),
        sum(col("n_chars")).cast("bigint").as("total_chars"))
    val a8 = picks.groupBy(col("s8").as("shard"))
      .agg(count(lit(1)).cast("bigint").as("n_docs8"))
    a9.join(a8, Seq("shard"), "left_outer")
      .select(col("shard"), coalesce(col("n_docs8"), lit(0L)).as("n_docs8"),
        col("n_docs9"), col("n_inbound_moved"), col("total_chars"))
  }

  val qShardLayoutSql: String = {
    val w = md5IntSql(
      "concat(CAST(doc_id AS VARCHAR), '#', CAST(shard AS VARCHAR))", 1, 12)
    s"""WITH sh AS (SELECT doc_id, n_chars, shard
      |            FROM documents, UNNEST(range(0, 9)) AS u(shard)),
      |w AS (SELECT doc_id, n_chars, shard, $w AS w FROM sh),
      |p8 AS (SELECT doc_id, shard AS s8 FROM (
      |         SELECT doc_id, shard,
      |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w DESC, shard) AS rk
      |         FROM w WHERE shard < 8) WHERE rk = 1),
      |p9 AS (SELECT doc_id, n_chars, shard AS s9 FROM (
      |         SELECT doc_id, n_chars, shard,
      |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w DESC, shard) AS rk
      |         FROM w) WHERE rk = 1),
      |a9 AS (SELECT s9 AS shard, COUNT(*) AS n_docs9,
      |         CAST(SUM(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT) AS n_inbound_moved,
      |         CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |       FROM p9 JOIN p8 USING (doc_id) GROUP BY 1),
      |a8 AS (SELECT s8 AS shard, COUNT(*) AS n_docs8 FROM p8 GROUP BY 1)
      |SELECT a9.shard, CAST(COALESCE(a8.n_docs8, 0) AS BIGINT) AS n_docs8,
      |  n_docs9, n_inbound_moved, total_chars
      |FROM a9 LEFT JOIN a8 ON a9.shard = a8.shard""".stripMargin
  }

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_shard_layout" -> ((qShardLayout _, Some(qShardLayoutSql))),
    "q_delta_agg" -> ((qDeltaAgg _, Some(qDeltaAggSql))),
    "q_weighted_median" -> ((qWeightedMedian _, Some(qWeightedMedianSql))),
    "q_gini" -> ((qGini _, Some(qGiniSql))),
    "q_skyline" -> ((qSkyline _, Some(qSkylineSql))),
    "q_anomaly_mad" -> ((qAnomalyMad _, Some(qAnomalyMadSql))),
    "q_theta_ops" -> ((qThetaOps _, Some(qThetaOpsSql))),
    "q_count_min" -> ((qCountMin _, Some(qCountMinSql))),
    "q_label_prop" -> ((qLabelProp _, Some(qLabelPropSql))),
    "q_hits" -> ((qHits _, Some(qHitsSql))),
    "q_market_basket" -> ((qMarketBasket _, Some(qMarketBasketSql))),
    "q_approx_topk" -> ((qApproxTopk _, Some(qApproxTopkSql))),
    "q_ohlc" -> ((qOhlc _, Some(qOhlcSql))),
    "q_hll_merge" -> ((qHllMerge _, Some(qHllMergeSql))),
    "q_kll_quantiles" -> ((qKllQuantiles _, Some(qKllQuantilesSql))),
    "q_mutual_info" -> ((qMutualInfo _, Some(qMutualInfoSql))),
    "q_winsorize" -> ((qWinsorize _, Some(qWinsorizeSql))),
    "q_spearman" -> ((qSpearman _, Some(qSpearmanSql))),
    "q_sequence_mining" -> ((qSequenceMining _, Some(qSequenceMiningSql))),
    "q_pagerank" -> ((qPagerank _, Some(qPagerankSql))),
    "q_triangles" -> ((qTriangles _, Some(qTrianglesSql))),
    "q_source_drift" -> ((qSourceDrift _, Some(qSourceDriftSql))),
    "q_token_entropy" -> ((qTokenEntropy _, Some(qTokenEntropySql))),
    "q_interval_join" -> ((qIntervalJoin _, Some(qIntervalJoinSql))),
    "q_snapshot_diff" -> ((qSnapshotDiff _, Some(qSnapshotDiffSql))),
    "q_regression" -> ((qRegression _, Some(qRegressionSql))),
    "q_edit_distance" -> ((qEditDistance _, Some(qEditDistanceSql))),
    "q_damerau" -> ((qDamerau _, Some(qDamerauSql))),
    "q_jaro" -> ((qJaro _, Some(qJaroSql))),
    "q_acf" -> ((qAcf _, Some(qAcfSql))),
    "q_kendall" -> ((qKendall _, Some(qKendallSql))),
    "q_rfm" -> ((qRfm _, Some(qRfmSql))),
    "q_attribution" -> ((qAttribution _, Some(qAttributionSql))),
    "q_seasonality" -> ((qSeasonality _, Some(qSeasonalitySql))),
    "q_churn_features" -> ((qChurnFeatures _, Some(qChurnFeaturesSql))),
    "q_forecast_baseline" -> ((qForecastBaseline _, Some(qForecastBaselineSql))),
    "q_conformal" -> ((qConformal _, Some(qConformalSql))),
    "q_cusum" -> ((qCusum _, Some(qCusumSql))),
    "q_benford" -> ((qBenford _, Some(qBenfordSql))),
    "q_entity_resolution" -> ((qEntityResolution _, Some(qEntityResolutionSql))),
    "q_gapfill" -> ((qGapfill _, Some(qGapfillSql))),
    "q_set_ops_all" -> ((qSetOpsAll _, Some(qSetOpsAllSql))),
    "q_unpivot" -> ((qUnpivot _, Some(qUnpivotSql)))
  )
}
