package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.AsofJoinNative
import org.apache.spark.sql.graft.PlanBridge
import Exact._

/** Advanced analytic operators: as-of join, sessionization, pivot,
  * multi-distinct aggregation, regex functions, exact percentiles.
  * These are the shapes real event/training pipelines hit weekly and the
  * reference has no machinery for at all.
  */
object AdvancedQueries {

  /** Shared as-of inputs: purchases (left) and clicks deduped to unique
    * (user, ts) rows (right). ONE derivation for all as-of queries, so the
    * merge exec and DuckDB's ASOF consume literally the same frames.
    * Colliding right times would make which click_id carries engine-chosen,
    * hence the dedup (the oracle runs the same one). `value` rides along;
    * variants that do not report it drop it in their final select.
    */
  private def asofInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("click_ts"))
      .agg(max(col("event_id")).as("click_id"))
    (purchases, clicks)
  }

  /** As-of join: for every purchase event, the user's most recent click at
    * or before it, through graft.plans.AsofJoinNative (one shuffle per side
    * + per-partition merge; no range join, no row multiplication). The
    * DuckDB oracle uses its native ASOF LEFT JOIN, so two independent
    * implementations must agree bit-for-bit. Registered as q_asof_join and
    * q_asof_native.
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val (purchases, clicks) = asofInputs(s, dir)
    AsofJoinNative.asof(purchases, clicks,
      key = "user_id", leftTime = "ts", rightTime = "click_ts",
      rightCols = Map("click_id" -> "last_click_id", "click_ts" -> "last_click_ts"))
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        col("last_click_id"), col("last_click_ts"))
  }

  val qAsofJoinSql: String =
    """WITH c AS (SELECT user_id, ts AS click_ts, MAX(event_id) AS click_id
      |           FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
      |SELECT p.user_id, p.event_id, p.ts, p.value,
      |  c.click_id AS last_click_id, c.click_ts AS last_click_ts
      |FROM (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts""".stripMargin

  /** Forward as-of join: for every purchase, the user's NEXT click at or
    * after it. The oracle's native ASOF supports the <= direction too.
    * Registered as q_asof_forward and q_asof_native_fwd.
    */
  def qAsofForward(s: SparkSession, dir: String): DataFrame = {
    val (purchases, clicks) = asofInputs(s, dir)
    AsofJoinNative.asof(purchases, clicks,
      key = "user_id", leftTime = "ts", rightTime = "click_ts",
      rightCols = Map("click_id" -> "next_click_id", "click_ts" -> "next_click_ts"),
      direction = "forward")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("next_click_id"), col("next_click_ts"))
  }

  val qAsofForwardSql: String =
    """WITH c AS (SELECT user_id, ts AS click_ts, MAX(event_id) AS click_id
      |           FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
      |SELECT p.user_id, p.event_id, p.ts,
      |  c.click_id AS next_click_id, c.click_ts AS next_click_ts
      |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.click_ts""".stripMargin

  /** Backward as-of join with a match tolerance: the most recent click
    * counts only within 10 minutes — stale matches null out (the standard
    * as-of tolerance, e.g. pandas merge_asof's). The exec checks the bound
    * on the matched right time, so it adds no join work; the oracle applies
    * the same CASE to DuckDB's native ASOF result. Registered as
    * q_asof_tolerance and q_asof_native_tol.
    */
  def qAsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val (purchases, clicks) = asofInputs(s, dir)
    AsofJoinNative.asof(purchases, clicks,
      key = "user_id", leftTime = "ts", rightTime = "click_ts",
      rightCols = Map("click_id" -> "recent_click_id", "click_ts" -> "recent_click_ts"),
      toleranceUnits = Some(600000000L)) // 10 min in timestamp micros
      .select(col("user_id"), col("event_id"), col("ts"),
        col("recent_click_id"), col("recent_click_ts"))
  }

  val qAsofToleranceSql: String =
    """WITH c AS (SELECT user_id, ts AS click_ts, MAX(event_id) AS click_id
      |           FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
      |SELECT p.user_id, p.event_id, p.ts,
      |  CASE WHEN epoch_us(p.ts) - epoch_us(c.click_ts) <= 600000000
      |       THEN c.click_id END AS recent_click_id,
      |  CASE WHEN epoch_us(p.ts) - epoch_us(c.click_ts) <= 600000000
      |       THEN c.click_ts END AS recent_click_ts
      |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts""".stripMargin

  /** Gap-based sessionization (30-minute inactivity gap) — the batch twin
    * of streaming session windows. One shuffle on user_id, one per-user
    * sort; session ids are running sums of gap indicators. Session stats
    * are exact integers.
    */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("epoch"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("epoch", unix_timestamp(col("ts")))
      .withColumn("gap",
        when(col("epoch") - lag(col("epoch"), 1).over(w) > 1800, 1)
          .when(lag(col("epoch"), 1).over(w).isNull, 1).otherwise(0))
      .withColumn("session_id", sum(col("gap")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("epoch")).as("session_start"),
        max(col("epoch")).as("session_end"),
        count(lit(1)).as("n_events"),
        (max(col("epoch")) - min(col("epoch"))).as("duration_sec"))
  }

  val qSessionizeSql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch
      |           FROM events),
      |g AS (SELECT user_id, event_id, epoch,
      |        CASE WHEN epoch - LAG(epoch, 1) OVER w > 1800 THEN 1
      |             WHEN LAG(epoch, 1) OVER w IS NULL THEN 1 ELSE 0 END AS gap
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY epoch, event_id)),
      |sess AS (SELECT user_id, epoch,
      |           CAST(SUM(gap) OVER (PARTITION BY user_id ORDER BY epoch, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |         FROM g)
      |SELECT user_id, session_id, MIN(epoch) AS session_start,
      |  MAX(epoch) AS session_end, COUNT(*) AS n_events,
      |  MAX(epoch) - MIN(epoch) AS duration_sec
      |FROM sess GROUP BY user_id, session_id""".stripMargin

  /** Pivot: event-type counts as columns per user decile. Spark plans one
    * hash aggregate over (bucket, type) then a pivot projection — the
    * shuffle carries #buckets × #types rows. Missing cells null→0 to match
    * SQL conditional aggregation.
    */
  def qPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, dir)
      .groupBy((col("user_id") % 10).as("user_decile"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
  }

  val qPivotSql: String =
    """SELECT user_id % 10 AS user_decile,
      |  COUNT(*) FILTER (event_type = 'click') AS click,
      |  COUNT(*) FILTER (event_type = 'error') AS error,
      |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (event_type = 'view') AS view
      |FROM events GROUP BY 1""".stripMargin

  /** Multiple DISTINCT aggregates in one pass (Spark plans an Expand —
    * each distinct column gets its own stream) + a plain count: the
    * dedup-diagnostics shape at reporting granularity.
    */
  def qCountDistinct(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("k")).as("n_props"),
        countDistinct(col("user_id"), col("k")).as("n_user_props"))
  }

  val qCountDistinctSql: String =
    """SELECT event_type, COUNT(*) AS n_rows,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  COUNT(DISTINCT CAST(props->>'$.k' AS BIGINT)) AS n_props,
      |  COUNT(DISTINCT (user_id, CAST(props->>'$.k' AS BIGINT))) AS n_user_props
      |FROM events GROUP BY event_type""".stripMargin

  /** Regex surface: extract/replace/match over order priorities. */
  def qRegexFns(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .filter(col("o_orderkey") < 300)
      .select(col("o_orderkey"),
        regexp_extract(col("o_orderpriority"), "^(\\d)-(\\w+)", 1).as("prio_num"),
        regexp_extract(col("o_orderpriority"), "^(\\d)-(\\w+)", 2).as("prio_name"),
        regexp_replace(col("o_orderpriority"), "[AEIOU]", "_").as("devoweled"),
        col("o_orderpriority").like("%URGENT%").as("is_urgent_like"),
        col("o_orderpriority").rlike("^[12]-").as("is_high_rlike"))
  }

  val qRegexFnsSql: String =
    """SELECT o_orderkey,
      |  regexp_extract(o_orderpriority, '^(\d)-(\w+)', 1) AS prio_num,
      |  regexp_extract(o_orderpriority, '^(\d)-(\w+)', 2) AS prio_name,
      |  regexp_replace(o_orderpriority, '[AEIOU]', '_', 'g') AS devoweled,
      |  o_orderpriority LIKE '%URGENT%' AS is_urgent_like,
      |  regexp_matches(o_orderpriority, '^[12]-') AS is_high_rlike
      |FROM orders WHERE o_orderkey < 300""".stripMargin

  /** Exact interpolated percentiles (median/p90) per priority class —
    * both engines interpolate linearly over the sorted values on identical
    * doubles; r6 absorbs any last-ulp interpolation difference.
    */
  def qPercentiles(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        r6(expr("percentile(o_totalprice, 0.5)")).as("p50"),
        r6(expr("percentile(o_totalprice, 0.9)")).as("p90"),
        r6(expr("percentile(o_totalprice, 0.99)")).as("p99"))
  }

  val qPercentilesSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90,
      |  ROUND(quantile_cont(o_totalprice, 0.99), 6) AS p99
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** Approximate percentiles (GK sketch) — the 100 TB quantile path where
    * exact percentile() means a per-group global sort. Like
    * q_approx_distinct, the sketch VALUE differs by engine, so the gate
    * checks the sketch's contract instead: the query recomputes each approx
    * value's true rank fraction against the data and emits a verdict that
    * it sits within ±0.01 of the requested quantile (sketch rank error is
    * 1e-4 at accuracy 10000; the slack covers value granularity). The
    * oracle asserts the verdicts with the same group counts.
    */
  def qApproxPercentile(s: SparkSession, dir: String): DataFrame = {
    val ap = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(expr("approx_percentile(o_totalprice, array(0.5D, 0.9D), 10000)").as("ap"),
        count(lit(1)).as("n"))
      .select(col("o_orderpriority").as("pri"), col("n"),
        col("ap").getItem(0).as("ap50"), col("ap").getItem(1).as("ap90"))
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_totalprice"))
      .join(broadcast(ap), col("o_orderpriority") === col("pri"))
      .groupBy(col("o_orderpriority"), col("n"))
      .agg(
        (sum(when(col("o_totalprice") <= col("ap50"), 1).otherwise(0)).cast("double")
          / col("n")).as("f50"),
        (sum(when(col("o_totalprice") <= col("ap90"), 1).otherwise(0)).cast("double")
          / col("n")).as("f90"))
      .select(col("o_orderpriority"), col("n"),
        (abs(col("f50") - 0.5) <= 0.01).as("p50_ok"),
        (abs(col("f90") - 0.9) <= 0.01).as("p90_ok"))
  }

  val qApproxPercentileSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n, TRUE AS p50_ok, TRUE AS p90_ok
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** Bivariate statistics (Pearson correlation + sample covariance) per
    * event type, from decimal-exact moment sums rather than the built-in
    * corr()/covar_samp() — the builtins use different streaming update
    * formulas per engine (Welford vs naive) whose float drift can cross a
    * rounding boundary; exact Σx, Σy, Σxy, Σx², n make both engines
    * compute the SAME doubles before the one rounded division.
    * x = value, y = the JSON props k. Scale: one hash aggregate, five
    * decimal sums, map-side partials.
    */
  def qCorrelation(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
    val ms = Exact.momentSums(col("value"), col("k"))
    ev.groupBy(col("event_type"))
      .agg(ms.head, ms.tail: _*)
      .select(col("event_type"), col("n"),
        r6((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1))
          .as("covar_samp"),
        r6((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
               (col("n") * col("syy") - col("sy") * col("sy"))))
          .as("pearson_r"))
  }

  val qCorrelationSql: String =
    """WITH m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * CAST(props->>'$.k' AS BIGINT) AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
      |    CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * CAST(value AS DECIMAL(12,4)) AS DECIMAL(28,8))) AS DECIMAL(24,4)) AS DOUBLE) AS sxx,
      |    CAST(CAST(SUM(CAST(props->>'$.k' AS BIGINT) * CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS DOUBLE) AS syy
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n,
      |  ROUND((sxy - sx * sy / n) / (n - 1), 6) AS covar_samp,
      |  ROUND((n * sxy - sx * sy) /
      |    SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS pearson_r
      |FROM m""".stripMargin

  /** Correlated EXISTS / NOT EXISTS / IN subqueries — the SQL-syntax path
    * into semi/anti joins (Catalyst decorrelates all three; the DataFrame
    * twins are q_semi_join/q_anti_join). Customers with an urgent order
    * but no high-priced one, restricted to nations seen in orders'
    * customer set.
    */
  def qExistsSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_ex")
    Tables.customer(s, dir).createOrReplaceTempView("customer_ex")
    s.sql(
      """SELECT c_custkey, c_nationkey
        |FROM customer_ex c
        |WHERE EXISTS (SELECT 1 FROM orders_ex o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders_ex o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 400000)
        |  AND c_nationkey IN (SELECT c_nationkey FROM customer_ex
        |                      WHERE c_acctbal > 9000)""".stripMargin)
  }

  val qExistsSubquerySql: String =
    """SELECT c_custkey, c_nationkey
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_totalprice > 400000)
      |  AND c_nationkey IN (SELECT c_nationkey FROM customer
      |                      WHERE c_acctbal > 9000)""".stripMargin

  /** NOT IN under three-valued logic — the null-aware anti join. The
    * classic silent-wrong: `x NOT IN (subquery)` is NULL (not TRUE) for
    * EVERY x as soon as the subquery produces one NULL, so the whole
    * filter collapses to empty — semantics an ordinary anti join cannot
    * express, which is why Catalyst plans a broadcast null-aware anti
    * join for it. Three variants through the gate: a null-free inner set
    * (ordinary NAAJ result, outer NULLs excluded), a null-poisoned inner
    * set (count MUST be 0), and IN against the same poisoned set (members
    * still match — the asymmetry that trips people). Scale: the inner
    * sets are dimension-sized and broadcast; the outer side streams with
    * no shuffle.
    */
  def qNotInNulls(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_nin")
    Tables.customer(s, dir).createOrReplaceTempView("customer_nin")
    s.sql(
      """SELECT 'not_in_clean' AS variant, COUNT(*) AS n
        |FROM events_nin
        |WHERE nullif(user_id, 7) NOT IN
        |  (SELECT c_custkey FROM customer_nin WHERE c_acctbal < 0)
        |UNION ALL
        |SELECT 'not_in_poisoned', COUNT(*)
        |FROM events_nin
        |WHERE user_id NOT IN
        |  (SELECT nullif(c_custkey, 3) FROM customer_nin WHERE c_acctbal IS NOT NULL)
        |UNION ALL
        |SELECT 'in_poisoned', COUNT(*)
        |FROM events_nin
        |WHERE user_id IN
        |  (SELECT nullif(c_custkey, 3) FROM customer_nin WHERE c_acctbal IS NOT NULL)""".stripMargin)
  }

  val qNotInNullsSql: String =
    """SELECT 'not_in_clean' AS variant, COUNT(*) AS n
      |FROM events
      |WHERE nullif(user_id, 7) NOT IN
      |  (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      |UNION ALL
      |SELECT 'not_in_poisoned', COUNT(*)
      |FROM events
      |WHERE user_id NOT IN
      |  (SELECT nullif(c_custkey, 3) FROM customer WHERE c_acctbal IS NOT NULL)
      |UNION ALL
      |SELECT 'in_poisoned', COUNT(*)
      |FROM events
      |WHERE user_id IN
      |  (SELECT nullif(c_custkey, 3) FROM customer WHERE c_acctbal IS NOT NULL)""".stripMargin

  /** NULL semantics corner cases through the gate: nullable keys produced
    * by NULLIF, the single NULL group in GROUP BY, null-safe equality
    * (Spark `<=>` ≡ SQL IS NOT DISTINCT FROM), and COALESCE fallback —
    * the semantics every engine pair disagrees on first.
    */
  def qNullSemantics(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      // FLOOR first: Spark's double->int cast truncates while DuckDB's
      // ROUNDS — floor on identical doubles is engine-identical
      .withColumn("vkey", nullif(floor(col("value")).cast("int") % 5, lit(0)))
      .groupBy(col("event_type"), col("vkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("vkey") <=> lit(null), 1).otherwise(0)).as("n_null_safe_null"),
        coalesce(min(col("vkey")), lit(-1)).as("min_or_default"))
  }

  /** Adversarial cross-engine semantics gate (r10 verdict item #7): every
    * other oracle row runs over the driver's well-formed synthetic tables,
    * so the clean data never exercises the edge semantics two engines most
    * often disagree on. This query CONSTRUCTS the hostile values inside
    * both engines — NaN / ±0.0 / ±Infinity doubles, 4-byte UTF-8
    * (U+1F600 built from its hex bytes, so no source-encoding dependence),
    * the empty string, NULL-propagating concat, and a single 10 MiB
    * document — threads them through the operators whose edge behavior is
    * genuinely engine-divergent-in-the-wild (grouping, distinct, min/max,
    * array sort, char-vs-byte length, char-based substring, sha256 over
    * UTF-8 bytes), and mixes NaN into the REAL events/documents parquet so
    * the gate also covers hostile-values-meet-real-data. Pinned semantics
    * (verified identical in Spark and DuckDB 1.0, and now hash-gated every
    * round): grouping normalizes -0.0 to 0.0 and all NaNs to one NaN
    * group; NaN sorts greatest (last ASC, max) and ±Infinity sort outside
    * all finite values; length() counts characters while octet_length()
    * counts UTF-8 bytes; substring indexes characters; split('', sep)
    * yields one empty element; concat propagates NULL. Deliberately
    * EXCLUDED: float division by zero (Spark gives ±Inf/NaN, DuckDB 1.0
    * gives NULL — a true engine divergence, so NaN is built by CAST
    * instead) and double→int casts (Spark truncates, DuckDB rounds — the
    * [[qNullSemantics]] FLOOR lesson). Scale: every probe is O(1) or a
    * constant-size slice; the events probe is one pruned scan with
    * map-side aggregation.
    */
  def qHostileSemantics(s: SparkSession, dir: String): DataFrame = {
    val emoji = "decode(unhex('F09F9880'), 'UTF-8')" // U+1F600, 4 UTF-8 bytes
    val hostile = "array(CAST('NaN' AS DOUBLE), CAST('NaN' AS DOUBLE), " +
      "CAST('0.0' AS DOUBLE), CAST('-0.0' AS DOUBLE), " +
      "CAST('Infinity' AS DOUBLE), CAST('-Infinity' AS DOUBLE), CAST('1.0' AS DOUBLE))"
    val one = s.range(1)
    def probe(name: String, n1: Column = lit(null), n2: Column = lit(null),
              d: Column = lit(null), str: Column = lit(null)) = Seq(
      lit(name).as("probe"), n1.cast("bigint").as("n1"), n2.cast("bigint").as("n2"),
      d.cast("double").as("d"), str.cast("string").as("s"))

    val vals = one.select(explode(expr(hostile)).as("v"))
    val groups = vals.groupBy(col("v")).agg(count(lit(1)).as("c"))
    // grouping doubles: -0.0 merges with 0.0, the two NaNs form ONE group
    val pGroups = groups.agg(count(lit(1)).as("gn"),
        max(when(expr("isnan(v)"), col("c"))).as("nanc"))
      .select(probe("nan_zero_groups",
        n1 = col("gn"), n2 = col("nanc")): _*)
    // the merged zero group keys as +0.0 (NormalizeFloatingNumbers — and
    // the gate's repr-exact canon WOULD see a -0.0 key)
    val pNegZero = groups.filter(col("v") === 0.0)
      .select(probe("negzero_key", n1 = col("c"), d = col("v")): _*)
    // NaN sorts greatest, -Infinity least; max picks NaN over +Infinity
    val pSort = one.select(probe("nan_sort",
      d = expr(s"element_at(array_sort($hostile), -1)")): _*)
    val pSortFirst = one.select(probe("inf_sort_first",
      d = expr(s"element_at(array_sort($hostile), 1)")): _*)
    val pMinMax = vals.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .select(probe("nan_minmax", d = col("mx") - col("mn")): _*) // NaN - -Inf = NaN
    // 4-byte UTF-8: char length 3, byte length 6; upper() leaves it intact
    val pEmoji = one.select(probe("utf8_emoji",
      n1 = expr(s"length(upper(concat('a', $emoji, 'b')))"),
      n2 = expr(s"octet_length(concat('a', $emoji, 'b'))"),
      str = expr(s"upper(concat('a', $emoji, 'b'))")): _*)
    // char-based substring straddling the 4-byte char
    val pSubstr = one.select(probe("utf8_substr",
      n2 = expr(s"octet_length(substring(concat($emoji, 'abc'), 1, 2))"),
      str = expr(s"substring(concat($emoji, 'abc'), 1, 2)")): _*)
    // real parquet text wrapped in 4-byte chars: char vs byte sums + a
    // sha256 over the UTF-8 bytes of the wrapped text
    val pDocs = Tables.documents(s, dir).filter(col("doc_id") < 4)
      .select(expr(s"concat($emoji, text, $emoji)").as("w"))
      .agg(sum(expr("length(w)")).as("cl"), sum(expr("octet_length(w)")).as("bl"),
        max(expr("sha2(w, 256)")).as("h"))
      .select(probe("utf8_docs", n1 = col("cl"), n2 = col("bl"), str = col("h")): _*)
    val pEmpty = one.select(probe("empty_string",
      n1 = expr("size(split('', ' '))"), n2 = expr("length('')")): _*)
    val pNullCat = one.select(probe("null_concat",
      n1 = expr("CASE WHEN concat(CAST(NULL AS STRING), 'a') IS NULL THEN 1 ELSE 0 END"),
      str = expr("concat(CAST(NULL AS STRING), 'a')")): _*)
    // one 10 MiB document: length + sha256 prove the engines agree on a
    // single value far past any inline/dictionary page threshold
    val pBig = one.select(probe("big_doc",
      n1 = expr("length(repeat('abcdefgh', 1310720))"),
      str = expr("sha2(repeat('abcdefgh', 1310720), 256)")): _*)
    // hostile values meeting real data: NaN injected into every 7th event
    // of a constant-size slice; distinct counts NaN once, max is NaN
    val pEvents = Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(when(col("event_id") % 7 === 0, expr("CAST('NaN' AS DOUBLE)"))
        .otherwise(col("value")).as("v"))
      .agg(count(lit(1)).as("n"), countDistinct(col("v")).as("nd"), max(col("v")).as("mx"))
      .select(probe("nan_in_data", n1 = col("n"), n2 = col("nd"), d = col("mx")): _*)

    Seq(pGroups, pNegZero, pSort, pSortFirst, pMinMax, pEmoji, pSubstr,
      pDocs, pEmpty, pNullCat, pBig, pEvents)
      .reduce(_.unionByName(_))
  }

  val qHostileSemanticsSql: String = {
    val emoji = "decode(from_hex('F09F9880'))"
    val hostile = "['NaN'::DOUBLE, 'NaN'::DOUBLE, '0.0'::DOUBLE, '-0.0'::DOUBLE, " +
      "'Infinity'::DOUBLE, '-Infinity'::DOUBLE, '1.0'::DOUBLE]"
    s"""WITH hv AS (SELECT unnest($hostile) AS v),
       |g AS (SELECT v, COUNT(*) AS c FROM hv GROUP BY v)
       |SELECT 'nan_zero_groups' AS probe,
       |  (SELECT COUNT(*) FROM g) AS n1,
       |  (SELECT MAX(CASE WHEN isnan(v) THEN c END) FROM g) AS n2,
       |  CAST(NULL AS DOUBLE) AS d, CAST(NULL AS VARCHAR) AS s
       |UNION ALL
       |SELECT 'negzero_key', (SELECT c FROM g WHERE v = 0.0),
       |  NULL, (SELECT v FROM g WHERE v = 0.0), NULL
       |UNION ALL
       |SELECT 'nan_sort', NULL, NULL, (list_sort($hostile))[-1], NULL
       |UNION ALL
       |SELECT 'inf_sort_first', NULL, NULL, (list_sort($hostile))[1], NULL
       |UNION ALL
       |SELECT 'nan_minmax', NULL, NULL,
       |  (SELECT MAX(v) - MIN(v) FROM hv), NULL
       |UNION ALL
       |SELECT 'utf8_emoji', len(upper('a' || $emoji || 'b')),
       |  strlen('a' || $emoji || 'b'), NULL, upper('a' || $emoji || 'b')
       |UNION ALL
       |SELECT 'utf8_substr', NULL,
       |  strlen(substring($emoji || 'abc', 1, 2)), NULL,
       |  substring($emoji || 'abc', 1, 2)
       |UNION ALL
       |SELECT 'utf8_docs', w.cl, w.bl, NULL, w.h FROM (
       |  SELECT CAST(SUM(len($emoji || text || $emoji)) AS BIGINT) AS cl,
       |         CAST(SUM(strlen($emoji || text || $emoji)) AS BIGINT) AS bl,
       |         MAX(sha256($emoji || text || $emoji)) AS h
       |  FROM documents WHERE doc_id < 4) w
       |UNION ALL
       |SELECT 'empty_string', len(string_split('', ' ')), len(''), NULL, NULL
       |UNION ALL
       |SELECT 'null_concat',
       |  CASE WHEN (NULL || 'a') IS NULL THEN 1 ELSE 0 END, NULL, NULL,
       |  NULL || 'a'
       |UNION ALL
       |SELECT 'big_doc', len(repeat('abcdefgh', 1310720)), NULL, NULL,
       |  sha256(repeat('abcdefgh', 1310720))
       |UNION ALL
       |SELECT 'nan_in_data', e.n, e.nd, e.mx, NULL FROM (
       |  SELECT COUNT(*) AS n, COUNT(DISTINCT v) AS nd, MAX(v) AS mx FROM (
       |    SELECT CASE WHEN event_id % 7 = 0 THEN 'NaN'::DOUBLE ELSE value END AS v
       |    FROM events WHERE event_id < 2000) t) e""".stripMargin
  }

  /** The relational companion to [[qHostileSemantics]]: hostile values
    * (NaN / NULL keys, duplicate keys) threaded through the RELATIONAL
    * operators whose edge semantics differ most often across engines —
    * equi/outer/anti joins, null-safe equality, set operations with their
    * NULL-equals-NULL rule and ALL multiplicities, and ROLLUP's
    * source-NULL vs total-row ambiguity (disambiguated by GROUPING, the
    * reason that function exists). Pinned agreements (verified in DuckDB
    * 1.0 and Spark, now hash-gated): equi-joins match NaN keys to NaN
    * (both engines group/join on normalized doubles) but never NULL to
    * NULL; null-safe equality (<=> / IS NOT DISTINCT FROM) does match
    * NULLs; anti-join keeps the NULL-key row (the predicate is unknown,
    * so no match exists); INTERSECT/EXCEPT treat NULLs and NaNs as equal
    * (set ops use distinct-semantics, not predicate equality); ALL
    * variants are exact multiset min/difference; inner-join duplicate
    * keys multiply (3×2 = 6); and a NaN-salted self-join over the real
    * events parquet reproduces the same match count in both engines.
    */
  def qHostileRelational(s: SparkSession, dir: String): DataFrame = {
    val hvA = "array(CAST('NaN' AS DOUBLE), CAST('1.0' AS DOUBLE), CAST(NULL AS DOUBLE))"
    val hvB = "array(CAST('NaN' AS DOUBLE), CAST('2.0' AS DOUBLE), CAST(NULL AS DOUBLE))"
    val one = s.range(1)
    def fr(arr: String) = one.select(explode(expr(arr)).as("v"))
    val a = fr(hvA); val b = fr(hvB)
    def probe(name: String, n: Column, d: Column = lit(null)) = Seq(
      lit(name).as("probe"), n.cast("bigint").as("n"), d.cast("double").as("d"))

    // NaN keys join each other; NULL keys never do
    val pNanJoin = a.join(b, a("v") === b("v"))
      .agg(count(lit(1)).as("c")).select(probe("nan_join", col("c")): _*)
    // left join: NULL-key and unmatched rows survive with null right side
    val pLeftNull = a.join(b.select(col("v").as("w")), a("v") === col("w"), "left")
      .agg(sum(when(col("w").isNull, 1L).otherwise(0L)).as("c"))
      .select(probe("left_join_null_rows", col("c")): _*)
    // null-safe equality DOES match NULL to NULL (and NaN to NaN)
    val pNullSafe = a.join(b, a("v") <=> b("v"))
      .agg(count(lit(1)).as("c")).select(probe("nullsafe_join", col("c")): _*)
    // anti-join keeps the NULL-key row: no match can be proven
    val pAnti = a.join(b, a("v") === b("v"), "left_anti")
      .agg(count(lit(1)).as("c")).select(probe("anti_join_keeps_null", col("c")): _*)
    // set ops: NULL = NULL and NaN = NaN under distinct-semantics
    val pIntersect = a.intersect(b)
      .agg(count(lit(1)).as("c"), max(col("v")).as("m"))
      .select(probe("intersect_null_nan", col("c"), col("m")): _*)
    val dupA = one.select(explode(expr("array(1, 1, 1, 2)")).as("k"))
    val dupB = one.select(explode(expr("array(1, 1, 3)")).as("k"))
    val pIntAll = dupA.intersectAll(dupB)
      .agg(count(lit(1)).as("c")).select(probe("intersect_all_mult", col("c")): _*)
    val pExcAll = one.select(explode(expr("array(1, 1, 1)")).as("k"))
      .exceptAll(one.select(explode(expr("array(1)")).as("k")))
      .agg(count(lit(1)).as("c")).select(probe("except_all_mult", col("c")): _*)
    // duplicate-key inner join multiplies: 3 x 2
    val pDupMult = one.select(explode(expr("array(1, 1, 1)")).as("k"))
      .join(one.select(explode(expr("array(1, 1)")).as("k")), "k")
      .agg(count(lit(1)).as("c")).select(probe("dup_join_mult", col("c")): _*)
    // ROLLUP: the source-NULL group (GROUPING = 0) vs the total (GROUPING = 1)
    val rl = one.select(explode(expr("array(CAST(NULL AS INT), 1)")).as("k"))
      .rollup(col("k")).agg(count(lit(1)).as("c"), grouping(col("k")).as("g"))
    val pRollNull = rl.filter(col("g") === 0 && col("k").isNull)
      .agg(sum(col("c")).as("c")).select(probe("rollup_null_group", col("c")): _*)
    val pRollTot = rl.filter(col("g") === 1)
      .agg(sum(col("c")).as("c")).select(probe("rollup_total_row", col("c")): _*)
    // hostile meets real data: NaN-salt every 7th event's value, self-join
    // on the double key — NaN keys match each other, so the NaN block
    // contributes its count squared to the pair total
    val ev = Tables.events(s, dir).filter(col("event_id") < 300)
      .select(when(col("event_id") % 7 === 0, expr("CAST('NaN' AS DOUBLE)"))
        .otherwise(col("value")).as("v"))
    val pRealNan = ev.as("x").join(ev.as("y"), col("x.v") === col("y.v"))
      .agg(count(lit(1)).as("c")).select(probe("nan_join_real", col("c")): _*)

    Seq(pNanJoin, pLeftNull, pNullSafe, pAnti, pIntersect, pIntAll, pExcAll,
      pDupMult, pRollNull, pRollTot, pRealNan).reduce(_.unionByName(_))
  }

  val qHostileRelationalSql: String = {
    val hvA = "SELECT unnest(['NaN'::DOUBLE, '1.0'::DOUBLE, NULL::DOUBLE]) AS v"
    val hvB = "SELECT unnest(['NaN'::DOUBLE, '2.0'::DOUBLE, NULL::DOUBLE]) AS v"
    s"""WITH a AS ($hvA), b AS ($hvB),
       |da AS (SELECT unnest([1, 1, 1, 2]) AS k),
       |db AS (SELECT unnest([1, 1, 3]) AS k),
       |rl AS (SELECT k, COUNT(*) AS c, GROUPING(k) AS g
       |       FROM (SELECT unnest([NULL, 1]) AS k) t GROUP BY ROLLUP(k)),
       |ev AS (SELECT CASE WHEN event_id % 7 = 0 THEN 'NaN'::DOUBLE ELSE value END AS v
       |       FROM events WHERE event_id < 300)
       |SELECT 'nan_join' AS probe,
       |  (SELECT COUNT(*) FROM a JOIN b ON a.v = b.v) AS n,
       |  CAST(NULL AS DOUBLE) AS d
       |UNION ALL
       |SELECT 'left_join_null_rows',
       |  (SELECT COUNT(*) FILTER (WHERE b.v IS NULL)
       |   FROM a LEFT JOIN b ON a.v = b.v), NULL
       |UNION ALL
       |SELECT 'nullsafe_join',
       |  (SELECT COUNT(*) FROM a JOIN b ON a.v IS NOT DISTINCT FROM b.v), NULL
       |UNION ALL
       |SELECT 'anti_join_keeps_null',
       |  (SELECT COUNT(*) FROM a
       |   WHERE NOT EXISTS (SELECT 1 FROM b WHERE a.v = b.v)), NULL
       |UNION ALL
       |SELECT 'intersect_null_nan', i.c, i.m FROM (
       |  SELECT COUNT(*) AS c, MAX(v) AS m FROM (
       |    SELECT v FROM a INTERSECT SELECT v FROM b) t) i
       |UNION ALL
       |SELECT 'intersect_all_mult',
       |  (SELECT COUNT(*) FROM (
       |    SELECT k FROM da INTERSECT ALL SELECT k FROM db) t), NULL
       |UNION ALL
       |SELECT 'except_all_mult',
       |  (SELECT COUNT(*) FROM (
       |    SELECT unnest([1, 1, 1]) AS k EXCEPT ALL SELECT 1) t), NULL
       |UNION ALL
       |SELECT 'dup_join_mult',
       |  (SELECT COUNT(*) FROM (SELECT unnest([1, 1, 1]) AS k) x
       |   JOIN (SELECT unnest([1, 1]) AS k) y USING (k)), NULL
       |UNION ALL
       |SELECT 'rollup_null_group',
       |  (SELECT CAST(SUM(c) AS BIGINT) FROM rl WHERE g = 0 AND k IS NULL), NULL
       |UNION ALL
       |SELECT 'rollup_total_row',
       |  (SELECT CAST(SUM(c) AS BIGINT) FROM rl WHERE g = 1), NULL
       |UNION ALL
       |SELECT 'nan_join_real',
       |  (SELECT COUNT(*) FROM ev x JOIN ev y ON x.v = y.v), NULL""".stripMargin
  }

  /** Window/ordering member of the hostile-gate family ([[qHostileSemantics]],
    * [[qHostileRelational]]): NaN/NULL/±Infinity threaded through ORDER BY
    * (explicit NULLS FIRST — the engines' DEFAULTS differ: Spark puts
    * NULLs first ascending, DuckDB last, so every hostile ordering here
    * spells the placement), RANK/DENSE_RANK tie semantics (the two NaNs
    * TIE — both engines order doubles with NaN = NaN), a RANGE frame with
    * a fractional double bound, LAG across a NULL value vs its default,
    * FIRST_VALUE IGNORE NULLS, NTILE bucketing, and a NaN-salted
    * top-k-per-group over the real events parquet. Probes emit full row
    * sets (not aggregates) so the hash gate pins every per-row value.
    * Scale note: the UNPARTITIONED windows here run over constant
    * 3-5 row LITERAL frames — the one place a global window is
    * scale-safe by construction; the real-data window partitions by
    * event_type over a constant-size slice.
    */
  def qHostileWindow(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_hw")
    s.sql("""
      |WITH hv AS (
      |  SELECT explode(array(CAST('NaN' AS DOUBLE), CAST('1.0' AS DOUBLE),
      |    CAST(NULL AS DOUBLE), CAST('-Infinity' AS DOUBLE),
      |    CAST('1.0' AS DOUBLE))) AS v),
      |ordered AS (
      |  SELECT v,
      |    ROW_NUMBER() OVER (ORDER BY v ASC NULLS FIRST) AS rn,
      |    RANK() OVER (ORDER BY v ASC NULLS FIRST) AS rk,
      |    DENSE_RANK() OVER (ORDER BY v ASC NULLS FIRST) AS drk,
      |    NTILE(2) OVER (ORDER BY v ASC NULLS FIRST) AS nt,
      |    LAG(v, 1, CAST('-99.0' AS DOUBLE)) OVER (ORDER BY v ASC NULLS FIRST) AS lg,
      |    FIRST_VALUE(v) IGNORE NULLS OVER (
      |      ORDER BY v ASC NULLS FIRST
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fv
      |  FROM hv),
      |rngsrc AS (SELECT explode(array(CAST('1.0' AS DOUBLE),
      |    CAST('1.5' AS DOUBLE), CAST('3.0' AS DOUBLE))) AS v),
      |rng AS (
      |  SELECT v, CAST(NULL AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS rk,
      |    CAST(NULL AS BIGINT) AS drk, CAST(NULL AS BIGINT) AS nt,
      |    CAST(NULL AS DOUBLE) AS lg,
      |    SUM(v) OVER (ORDER BY v
      |      RANGE BETWEEN 1.0 PRECEDING AND CURRENT ROW) AS fv
      |  FROM rngsrc),
      |salted AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 7 = 0 THEN CAST('NaN' AS DOUBLE)
      |         ELSE value END AS v,
      |    event_id
      |  FROM events_hw WHERE event_id < 300),
      |topk AS (
      |  SELECT event_type, v, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY v DESC NULLS LAST, event_id) AS rn
      |  FROM salted)
      |SELECT 'ordered' AS probe, CAST(rn AS BIGINT) AS rn, v,
      |  CAST(rk AS BIGINT) AS rk, CAST(drk AS BIGINT) AS drk,
      |  CAST(nt AS BIGINT) AS nt, lg, fv FROM ordered
      |UNION ALL
      |SELECT 'range_frame', NULL, v, NULL, NULL, NULL, lg, fv FROM rng
      |UNION ALL
      |SELECT 'salted_topk', CAST(rn AS BIGINT), v, CAST(event_id AS BIGINT),
      |  NULL, NULL, NULL, NULL
      |FROM topk WHERE rn <= 3
      |""".stripMargin)
  }

  val qHostileWindowSql: String =
    """WITH hv AS (
      |  SELECT unnest(['NaN'::DOUBLE, '1.0'::DOUBLE, NULL::DOUBLE,
      |    '-Infinity'::DOUBLE, '1.0'::DOUBLE]) AS v),
      |ordered AS (
      |  SELECT v,
      |    ROW_NUMBER() OVER (ORDER BY v ASC NULLS FIRST) AS rn,
      |    RANK() OVER (ORDER BY v ASC NULLS FIRST) AS rk,
      |    DENSE_RANK() OVER (ORDER BY v ASC NULLS FIRST) AS drk,
      |    NTILE(2) OVER (ORDER BY v ASC NULLS FIRST) AS nt,
      |    LAG(v, 1, '-99.0'::DOUBLE) OVER (ORDER BY v ASC NULLS FIRST) AS lg,
      |    FIRST_VALUE(v IGNORE NULLS) OVER (
      |      ORDER BY v ASC NULLS FIRST
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fv
      |  FROM hv),
      |rng AS (
      |  SELECT v, SUM(v) OVER (ORDER BY v
      |      RANGE BETWEEN 1.0 PRECEDING AND CURRENT ROW) AS fv
      |  FROM (SELECT unnest(['1.0'::DOUBLE, '1.5'::DOUBLE, '3.0'::DOUBLE]) AS v) t),
      |salted AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 7 = 0 THEN 'NaN'::DOUBLE ELSE value END AS v,
      |    event_id
      |  FROM events WHERE event_id < 300),
      |topk AS (
      |  SELECT event_type, v, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY v DESC NULLS LAST, event_id) AS rn
      |  FROM salted)
      |SELECT 'ordered' AS probe, rn, v, rk, drk, nt, lg, fv FROM ordered
      |UNION ALL
      |SELECT 'range_frame', NULL, v, NULL, NULL, NULL, NULL::DOUBLE, fv FROM rng
      |UNION ALL
      |SELECT 'salted_topk', rn, v, CAST(event_id AS BIGINT), NULL, NULL,
      |  NULL, NULL
      |FROM topk WHERE rn <= 3""".stripMargin

  /** Datetime member of the hostile-gate family: calendar edges the clean
    * synthetic timestamps never reach — leap-day year-arithmetic clamping
    * (2024-02-29 + 1 year → 2025-02-28), end-of-month month-add clamping
    * (2024-01-31 + 1 month → 2024-02-29), last_day across a leap
    * February, ISO week-of-year at year boundaries (2026-01-01 → week 1
    * but 2026-12-31 AND 2027-01-01 → week 53), Monday-anchored
    * date_trunc('week'), negative-epoch microseconds (one µs before the
    * epoch → -1), pre-epoch day truncation, and year-9999 comparisons —
    * plus a real-data probe grouping the events parquet by ISO weekday
    * through each engine's own calendar stack. Day-of-week is spelled
    * ISO-aligned on BOTH sides (Spark weekday()+1 ≡ DuckDB isodow):
    * the engines' native dayofweek() NUMBERINGS genuinely diverge
    * (Spark Sunday=1, DuckDB Sunday=0) — a pinned-by-construction
    * exclusion, like months_between's fractional end-of-month rules vs
    * datediff('month')'s boundary counting (also excluded: different
    * functions, not different answers to the same question).
    */
  def qHostileDatetime(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_hd")
    s.sql("""
      |SELECT 'leap_add_year' AS probe,
      |  CAST(DATE '2024-02-29' + INTERVAL 1 YEAR AS DATE) AS dt,
      |  CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS BIGINT) AS n
      |UNION ALL
      |SELECT 'eom_add_month', CAST(DATE '2024-01-31' + INTERVAL 1 MONTH AS DATE),
      |  NULL, NULL
      |UNION ALL
      |SELECT 'last_day_leap', last_day(DATE '2024-02-05'), NULL, NULL
      |UNION ALL
      |SELECT 'iso_week_jan1', NULL, NULL, CAST(weekofyear(DATE '2026-01-01') AS BIGINT)
      |UNION ALL
      |SELECT 'iso_week_dec31', NULL, NULL, CAST(weekofyear(DATE '2026-12-31') AS BIGINT)
      |UNION ALL
      |SELECT 'iso_week_next_jan1', NULL, NULL, CAST(weekofyear(DATE '2027-01-01') AS BIGINT)
      |UNION ALL
      |SELECT 'trunc_week_monday', CAST(date_trunc('week', DATE '2026-08-16') AS DATE),
      |  NULL, NULL
      |UNION ALL
      |SELECT 'pre_epoch_micros', NULL, NULL,
      |  unix_micros(TIMESTAMP '1969-12-31 23:59:59.999999')
      |UNION ALL
      |SELECT 'pre_epoch_trunc', NULL,
      |  date_trunc('day', TIMESTAMP '1969-12-31 12:00:00'), NULL
      |UNION ALL
      |SELECT 'year_9999', NULL, NULL,
      |  CAST(CASE WHEN TIMESTAMP '9999-12-31 23:59:59' >
      |    TIMESTAMP '9999-01-01 00:00:00' THEN 1 ELSE 0 END AS BIGINT)
      |UNION ALL
      |SELECT concat('iso_dow_', CAST(weekday(ts) + 1 AS STRING)), NULL, NULL,
      |  CAST(COUNT(*) AS BIGINT)
      |FROM events_hd WHERE event_id < 2000
      |GROUP BY weekday(ts) + 1
      |""".stripMargin)
  }

  val qHostileDatetimeSql: String =
    """SELECT 'leap_add_year' AS probe,
      |  CAST(DATE '2024-02-29' + INTERVAL 1 YEAR AS DATE) AS dt,
      |  CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS BIGINT) AS n
      |UNION ALL
      |SELECT 'eom_add_month', CAST(DATE '2024-01-31' + INTERVAL 1 MONTH AS DATE),
      |  NULL, NULL
      |UNION ALL
      |SELECT 'last_day_leap', last_day(DATE '2024-02-05'), NULL, NULL
      |UNION ALL
      |SELECT 'iso_week_jan1', NULL, NULL, CAST(weekofyear(DATE '2026-01-01') AS BIGINT)
      |UNION ALL
      |SELECT 'iso_week_dec31', NULL, NULL, CAST(weekofyear(DATE '2026-12-31') AS BIGINT)
      |UNION ALL
      |SELECT 'iso_week_next_jan1', NULL, NULL, CAST(weekofyear(DATE '2027-01-01') AS BIGINT)
      |UNION ALL
      |SELECT 'trunc_week_monday', CAST(date_trunc('week', DATE '2026-08-16') AS DATE),
      |  NULL, NULL
      |UNION ALL
      |SELECT 'pre_epoch_micros', NULL, NULL,
      |  epoch_us(TIMESTAMP '1969-12-31 23:59:59.999999')
      |UNION ALL
      |SELECT 'pre_epoch_trunc', NULL,
      |  date_trunc('day', TIMESTAMP '1969-12-31 12:00:00'), NULL
      |UNION ALL
      |SELECT 'year_9999', NULL, NULL,
      |  CAST(CASE WHEN TIMESTAMP '9999-12-31 23:59:59' >
      |    TIMESTAMP '9999-01-01 00:00:00' THEN 1 ELSE 0 END AS BIGINT)
      |UNION ALL
      |SELECT 'iso_dow_' || CAST(isodow(ts) AS VARCHAR), NULL, NULL,
      |  CAST(COUNT(*) AS BIGINT)
      |FROM events WHERE event_id < 2000
      |GROUP BY isodow(ts)""".stripMargin

  /** Numeric member of the hostile-gate family: the arithmetic edge rules
    * both engines agree on, pinned — half-value rounding is AWAY FROM
    * ZERO for doubles and decimals (2.5 → 3, -2.5 → -3; all probe values
    * are exactly representable so the binary double and the decimal see
    * the same half), modulo takes the DIVIDEND's sign (-7 % 3 = -1,
    * 7 % -3 = 1), integer division TRUNCATES toward zero (-7 div 3 =
    * -2, not floor's -3), pow(0,0) = 1 and a negative base to a
    * fractional power is NaN, greatest/least skip NULLs (all-NULL is
    * NULL), decimal scale-widening casts are exact, floor/ceil of -0.5
    * straddle zero, two's-complement bitwise ops and arithmetic shifts
    * on BIGINT — plus real-data probes (bit_xor aggregate and an exact
    * DECIMAL sum over an events slice) through both engines' aggregate
    * paths. Spelling notes that ARE the cross-engine lesson: DuckDB's
    * `^` is power (its xor is `xor()`) while Spark's `^` is xor; Spark's
    * `//` doesn't exist (its integer division is `div`). Documented
    * exclusions (true divergences): sqrt(-1)/ln(0) (Spark NaN/-Inf,
    * DuckDB throws), abs/sign of -0.0 (DuckDB abs keeps the sign bit,
    * Spark's doesn't; Java signum returns -0.0, DuckDB integer 0),
    * double→int CAST (Spark truncates, DuckDB rounds — the
    * [[qNullSemantics]] FLOOR lesson), and INTEGER overflow (Spark ANSI
    * throws, DuckDB widens to HUGEINT — the r10 Spearman lesson).
    */
  def qHostileNumeric(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_hn")
    s.sql("""
      |SELECT 'round_half_dbl' AS probe,
      |  CAST(NULL AS BIGINT) AS n,
      |  round(CAST('2.5' AS DOUBLE), 0) + round(CAST('-2.5' AS DOUBLE), 0) * 0.001
      |    AS d,
      |  CAST(NULL AS STRING) AS s
      |UNION ALL
      |SELECT 'round_half_dec', NULL, NULL,
      |  CAST(CAST(round(CAST(2.5 AS DECIMAL(3,1)), 0) AS DECIMAL(10,4)) AS STRING)
      |UNION ALL
      |SELECT 'round_dec_125', NULL, NULL,
      |  CAST(CAST(round(CAST(0.125 AS DECIMAL(4,3)), 2) AS DECIMAL(10,4)) AS STRING)
      |UNION ALL
      |SELECT 'mod_signs',
      |  CAST((-7 % 3) * 100 + (7 % -3) * 10 + (-7 % -3) AS BIGINT), NULL, NULL
      |UNION ALL
      |SELECT 'int_div_trunc', CAST(-7 div 3 AS BIGINT), NULL, NULL
      |UNION ALL
      |SELECT 'pow_zero_zero', NULL, power(0, 0), NULL
      |UNION ALL
      |SELECT 'pow_neg_frac', NULL,
      |  power(CAST('-8.0' AS DOUBLE), CAST(1.0 AS DOUBLE) / 3.0), NULL
      |UNION ALL
      |SELECT 'greatest_null', CAST(greatest(1, CAST(NULL AS INT)) AS BIGINT),
      |  NULL, NULL
      |UNION ALL
      |SELECT 'least_null', CAST(least(1, CAST(NULL AS INT)) AS BIGINT), NULL, NULL
      |UNION ALL
      |SELECT 'dec_widen', NULL, NULL,
      |  CAST(CAST(CAST(1.005 AS DECIMAL(4,3)) AS DECIMAL(10,6)) AS STRING)
      |UNION ALL
      |SELECT 'floor_ceil_neg_half',
      |  CAST(floor(CAST(-0.5 AS DECIMAL(2,1))) * 10 +
      |       ceil(CAST(-0.5 AS DECIMAL(2,1))) AS BIGINT), NULL, NULL
      |UNION ALL
      |SELECT 'bit_ops',
      |  CAST((12 ^ 10) * 10000 + (12 & 10) * 100 + (12 | 10) + ~12 AS BIGINT),
      |  NULL, NULL
      |UNION ALL
      |SELECT 'shifts',
      |  CAST(shiftleft(CAST(1 AS BIGINT), 62) + shiftright(CAST(-8 AS BIGINT), 1)
      |    AS BIGINT), NULL, NULL
      |UNION ALL
      |SELECT 'agg_bit_xor', CAST(bit_xor(event_id) AS BIGINT), NULL, NULL
      |FROM events_hn WHERE event_id < 2000
      |UNION ALL
      |SELECT 'agg_dec_sum', NULL, NULL,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DECIMAL(20,4)) AS STRING)
      |FROM events_hn WHERE event_id < 2000
      |""".stripMargin)
  }

  val qHostileNumericSql: String =
    """SELECT 'round_half_dbl' AS probe,
      |  CAST(NULL AS BIGINT) AS n,
      |  round('2.5'::DOUBLE, 0) + round('-2.5'::DOUBLE, 0) * 0.001 AS d,
      |  CAST(NULL AS VARCHAR) AS s
      |UNION ALL
      |SELECT 'round_half_dec', NULL, NULL,
      |  CAST(CAST(round(2.5::DECIMAL(3,1), 0) AS DECIMAL(10,4)) AS VARCHAR)
      |UNION ALL
      |SELECT 'round_dec_125', NULL, NULL,
      |  CAST(CAST(round(0.125::DECIMAL(4,3), 2) AS DECIMAL(10,4)) AS VARCHAR)
      |UNION ALL
      |SELECT 'mod_signs',
      |  CAST((-7 % 3) * 100 + (7 % -3) * 10 + (-7 % -3) AS BIGINT), NULL, NULL
      |UNION ALL
      |SELECT 'int_div_trunc', CAST(-7 // 3 AS BIGINT), NULL, NULL
      |UNION ALL
      |SELECT 'pow_zero_zero', NULL, pow(0, 0), NULL
      |UNION ALL
      |SELECT 'pow_neg_frac', NULL, pow('-8.0'::DOUBLE, 1.0::DOUBLE / 3.0), NULL
      |UNION ALL
      |SELECT 'greatest_null', CAST(greatest(1, NULL::INT) AS BIGINT), NULL, NULL
      |UNION ALL
      |SELECT 'least_null', CAST(least(1, NULL::INT) AS BIGINT), NULL, NULL
      |UNION ALL
      |SELECT 'dec_widen', NULL, NULL,
      |  CAST(CAST(1.005::DECIMAL(4,3) AS DECIMAL(10,6)) AS VARCHAR)
      |UNION ALL
      |SELECT 'floor_ceil_neg_half',
      |  CAST(floor(-0.5::DECIMAL(2,1)) * 10 + ceil(-0.5::DECIMAL(2,1)) AS BIGINT),
      |  NULL, NULL
      |UNION ALL
      |SELECT 'bit_ops',
      |  CAST(xor(12, 10) * 10000 + (12 & 10) * 100 + (12 | 10) + ~12 AS BIGINT),
      |  NULL, NULL
      |UNION ALL
      |SELECT 'shifts',
      |  CAST((1::BIGINT << 62) + (-8::BIGINT >> 1) AS BIGINT), NULL, NULL
      |UNION ALL
      |SELECT 'agg_bit_xor', CAST(bit_xor(event_id) AS BIGINT), NULL, NULL
      |FROM events WHERE event_id < 2000
      |UNION ALL
      |SELECT 'agg_dec_sum', NULL, NULL,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DECIMAL(20,4)) AS VARCHAR)
      |FROM events WHERE event_id < 2000""".stripMargin

  /** String member of the hostile-gate family: the text-function edge
    * rules both engines agree on, pinned — negative substring starts
    * count from the END, multichar pad strings cycle and overlong inputs
    * TRUNCATE, repeat with zero/negative count is empty, translate with
    * a shorter to-alphabet DELETES the unmapped chars, regex split /
    * extract-no-match ('' not NULL) / global replace, instr is 1-based
    * with 0 for absent, reverse is CHARACTER-wise across 4-byte UTF-8,
    * character-set trim, split_part past the last field is '' (not an
    * error, not NULL), concat_ws skips NULLs (unlike bare concat — the
    * [[qHostileSemantics]] null_concat probe) — plus real-data probes
    * (regex-split token total and a substring/instr rollup) over the
    * documents parquet. Spelling notes that are the lesson: DuckDB's
    * regexp_replace replaces the FIRST match unless given the 'g' flag,
    * Spark's always replaces all — the oracle spells 'g' explicitly.
    * Documented exclusions (true divergences in DuckDB 1.0): substring
    * START 0 (Spark treats 0 as 1 and returns 'hel'; DuckDB consumes a
    * position and returns 'he'), negative left()/right() lengths
    * (DuckDB drops from the opposite end, Spark returns ''), initcap
    * and overlay (absent in DuckDB 1.0), and locale-dependent case
    * mappings (ß, dotless i) which depend on ICU availability.
    */
  def qHostileString(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("docs_hs")
    val emoji = "decode(unhex('F09F9880'), 'UTF-8')"
    s.sql(s"""
      |SELECT 'substr_negative' AS probe, CAST(NULL AS BIGINT) AS n,
      |  substring('hello', -3, 2) AS s
      |UNION ALL
      |SELECT 'pad_cycle_trunc', NULL,
      |  concat(lpad('7', 5, 'ab'), '|', rpad('7', 4, 'xy'), '|', lpad('hello', 3, '*'))
      |UNION ALL
      |SELECT 'repeat_zero_neg', NULL,
      |  concat('[', repeat('ab', 0), '|', repeat('ab', -1), ']')
      |UNION ALL
      |SELECT 'left_overlong', NULL, left('hello', 99)
      |UNION ALL
      |SELECT 'translate_delete', NULL, translate('abcba', 'abc', 'xy')
      |UNION ALL
      |SELECT 'regex_split', NULL,
      |  array_join(split('a1b22c', '[0-9]+'), '|')
      |UNION ALL
      |SELECT 'instr_pos', CAST(instr('abab', 'ab') * 10 + instr('hello', 'z') AS BIGINT),
      |  NULL
      |UNION ALL
      |SELECT 'reverse_4byte', NULL, reverse(concat('a', $emoji, 'b'))
      |UNION ALL
      |SELECT 'trim_charset', NULL,
      |  concat(trim('  x  '), '|', trim(BOTH 'x' FROM 'xxaxx'), '|',
      |         ltrim('x', 'xxa'))
      |UNION ALL
      |SELECT 'split_part_oob', NULL,
      |  concat('[', split_part('a,b,c', ',', 2), '|', split_part('a,b', ',', 9), ']')
      |UNION ALL
      |SELECT 'concat_ws_null', NULL,
      |  concat_ws(',', 'a', CAST(NULL AS STRING), 'b')
      |UNION ALL
      |SELECT 'regex_nomatch', NULL,
      |  concat('[', regexp_extract('a123b', '([0-9]+)', 1), '|',
      |         regexp_extract('abc', '([0-9]+)', 1), ']')
      |UNION ALL
      |SELECT 'regex_replace_all', NULL, regexp_replace('a1b2', '[0-9]', 'X')
      |UNION ALL
      |SELECT 'doc_regex_tokens', CAST(SUM(size(split(text, '[^a-z]+'))) AS BIGINT),
      |  NULL
      |FROM docs_hs WHERE doc_id < 50
      |UNION ALL
      |SELECT 'doc_instr_rollup',
      |  CAST(SUM(instr(text, 'e') * 3 + length(substring(text, -5))) AS BIGINT), NULL
      |FROM docs_hs WHERE doc_id < 50
      |""".stripMargin)
  }

  val qHostileStringSql: String = {
    val emoji = "decode(from_hex('F09F9880'))"
    s"""SELECT 'substr_negative' AS probe, CAST(NULL AS BIGINT) AS n,
       |  substring('hello', -3, 2) AS s
       |UNION ALL
       |SELECT 'pad_cycle_trunc', NULL,
       |  lpad('7', 5, 'ab') || '|' || rpad('7', 4, 'xy') || '|' || lpad('hello', 3, '*')
       |UNION ALL
       |SELECT 'repeat_zero_neg', NULL,
       |  '[' || repeat('ab', 0) || '|' || repeat('ab', -1) || ']'
       |UNION ALL
       |SELECT 'left_overlong', NULL, left('hello', 99)
       |UNION ALL
       |SELECT 'translate_delete', NULL, translate('abcba', 'abc', 'xy')
       |UNION ALL
       |SELECT 'regex_split', NULL,
       |  array_to_string(string_split_regex('a1b22c', '[0-9]+'), '|')
       |UNION ALL
       |SELECT 'instr_pos', CAST(instr('abab', 'ab') * 10 + instr('hello', 'z') AS BIGINT),
       |  NULL
       |UNION ALL
       |SELECT 'reverse_4byte', NULL, reverse('a' || $emoji || 'b')
       |UNION ALL
       |SELECT 'trim_charset', NULL,
       |  trim('  x  ') || '|' || trim('xxaxx', 'x') || '|' || ltrim('xxa', 'x')
       |UNION ALL
       |SELECT 'split_part_oob', NULL,
       |  '[' || split_part('a,b,c', ',', 2) || '|' || split_part('a,b', ',', 9) || ']'
       |UNION ALL
       |SELECT 'concat_ws_null', NULL, concat_ws(',', 'a', NULL, 'b')
       |UNION ALL
       |SELECT 'regex_nomatch', NULL,
       |  '[' || regexp_extract('a123b', '([0-9]+)', 1) || '|' ||
       |  regexp_extract('abc', '([0-9]+)', 1) || ']'
       |UNION ALL
       |SELECT 'regex_replace_all', NULL, regexp_replace('a1b2', '[0-9]', 'X', 'g')
       |UNION ALL
       |SELECT 'doc_regex_tokens',
       |  CAST(SUM(len(string_split_regex(text, '[^a-z]+'))) AS BIGINT), NULL
       |FROM documents WHERE doc_id < 50
       |UNION ALL
       |SELECT 'doc_instr_rollup',
       |  CAST(SUM(instr(text, 'e') * 3 + len(substring(text, -5))) AS BIGINT), NULL
       |FROM documents WHERE doc_id < 50""".stripMargin
  }

  /** Collection/JSON member of the hostile-gate family: array, map, and
    * JSON-path edge rules the engines agree on, pinned — array_sort
    * places NULLs LAST while sort_array(ASC) places them FIRST (the two
    * spellings map exactly to DuckDB's list_sort default vs 'NULLS
    * FIRST'), slices with negative starts count from the end,
    * array_position returns 0 (not NULL) for absent, membership is true
    * for a present element and NULL when probing for NULL, DISTINCT
    * composes with sort for a canonical element set, JSON path
    * extraction agrees on nested objects / array indexing / missing
    * paths (NULL), and map lookup yields the value or NULL — plus
    * real-data probes (token array_position rollup and one document's
    * canonical sorted-distinct token prefix) over the documents parquet.
    * Documented exclusions (true DuckDB-1.0 divergences):
    * array_contains with a NULL element and NO match (Spark NULL, DuckDB
    * false), array_distinct ELEMENT ORDER (Spark keeps first-seen,
    * DuckDB doesn't — hence the sort composition here), flatten over a
    * NULL inner array (Spark NULL, DuckDB skips it), and arrays_zip
    * (Spark emits named structs, DuckDB tuples — a shape, not value,
    * mismatch).
    */
  def qHostileCollection(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("docs_hc")
    s.sql("""
      |SELECT 'sort_nulls_last' AS probe, CAST(NULL AS BIGINT) AS n,
      |  concat('[', array_join(array_sort(array(3, NULL, 1)), ',', 'N'), ']') AS s
      |UNION ALL
      |SELECT 'sort_nulls_first', NULL,
      |  concat('[', array_join(sort_array(array(3, NULL, 1)), ',', 'N'), ']')
      |UNION ALL
      |SELECT 'slice_mid', NULL,
      |  array_join(slice(array(1, 2, 3, 4, 5), 2, 3), ',')
      |UNION ALL
      |SELECT 'slice_negative', NULL,
      |  array_join(slice(array(1, 2, 3, 4, 5), -2, 2), ',')
      |UNION ALL
      |SELECT 'position_absent',
      |  CAST(array_position(array(10, 20, 30), 20) * 10 +
      |       array_position(array(10), 99) AS BIGINT), NULL
      |UNION ALL
      |SELECT 'contains_present',
      |  CAST(CASE WHEN array_contains(array(1, NULL), 1) THEN 1 ELSE 0 END
      |    AS BIGINT), NULL
      |UNION ALL
      |SELECT 'contains_null_probe',
      |  CAST(CASE WHEN array_contains(array(1, NULL), CAST(NULL AS INT)) IS NULL
      |    THEN 1 ELSE 0 END AS BIGINT), NULL
      |UNION ALL
      |SELECT 'sorted_distinct', NULL,
      |  array_join(array_sort(array_distinct(array(3, 1, 3, 2, 1))), ',')
      |UNION ALL
      |SELECT 'json_nested', NULL,
      |  get_json_object('{"a": {"b": 7}, "c": [1,2]}', '$.a.b')
      |UNION ALL
      |SELECT 'json_array_idx', NULL,
      |  get_json_object('{"c": [1,2]}', '$.c[1]')
      |UNION ALL
      |SELECT 'json_missing',
      |  CAST(CASE WHEN get_json_object('{"a":1}', '$.missing') IS NULL
      |    THEN 1 ELSE 0 END AS BIGINT), NULL
      |UNION ALL
      |SELECT 'map_lookup',
      |  CAST(element_at(map('a', 1, 'b', 2), 'a') * 10 +
      |       CASE WHEN element_at(map('a', 1), 'z') IS NULL THEN 1 ELSE 0 END
      |    AS BIGINT), NULL
      |UNION ALL
      |SELECT 'doc_token_position',
      |  CAST(SUM(array_position(split(text, ' '), 'the')) AS BIGINT), NULL
      |FROM docs_hc WHERE doc_id < 50
      |UNION ALL
      |SELECT 'doc_sorted_tokens', NULL,
      |  array_join(slice(array_sort(array_distinct(split(text, ' '))), 1, 5), '|')
      |FROM docs_hc WHERE doc_id = 0
      |""".stripMargin)
  }

  val qHostileCollectionSql: String =
    """SELECT 'sort_nulls_last' AS probe, CAST(NULL AS BIGINT) AS n,
      |  '[' || array_to_string(list_transform(list_sort([3, NULL, 1]),
      |    x -> coalesce(CAST(x AS VARCHAR), 'N')), ',') || ']' AS s
      |UNION ALL
      |SELECT 'sort_nulls_first', NULL,
      |  '[' || array_to_string(list_transform(list_sort([3, NULL, 1], 'ASC', 'NULLS FIRST'),
      |    x -> coalesce(CAST(x AS VARCHAR), 'N')), ',') || ']'
      |UNION ALL
      |SELECT 'slice_mid', NULL, array_to_string(([1,2,3,4,5])[2:4], ',')
      |UNION ALL
      |SELECT 'slice_negative', NULL, array_to_string(([1,2,3,4,5])[-2:], ',')
      |UNION ALL
      |SELECT 'position_absent',
      |  CAST(list_position([10, 20, 30], 20) * 10 +
      |       list_position([10], 99) AS BIGINT), NULL
      |UNION ALL
      |SELECT 'contains_present',
      |  CAST(CASE WHEN list_contains([1, NULL], 1) THEN 1 ELSE 0 END AS BIGINT),
      |  NULL
      |UNION ALL
      |SELECT 'contains_null_probe',
      |  CAST(CASE WHEN list_contains([1, NULL], NULL::INT) IS NULL
      |    THEN 1 ELSE 0 END AS BIGINT), NULL
      |UNION ALL
      |SELECT 'sorted_distinct', NULL,
      |  array_to_string(list_sort(list_distinct([3, 1, 3, 2, 1])), ',')
      |UNION ALL
      |SELECT 'json_nested', NULL,
      |  json_extract_string('{"a": {"b": 7}, "c": [1,2]}', '$.a.b')
      |UNION ALL
      |SELECT 'json_array_idx', NULL,
      |  json_extract_string('{"c": [1,2]}', '$.c[1]')
      |UNION ALL
      |SELECT 'json_missing',
      |  CAST(CASE WHEN json_extract_string('{"a":1}', '$.missing') IS NULL
      |    THEN 1 ELSE 0 END AS BIGINT), NULL
      |UNION ALL
      |SELECT 'map_lookup',
      |  CAST(map_extract(MAP {'a': 1, 'b': 2}, 'a')[1] * 10 +
      |       CASE WHEN len(map_extract(MAP {'a': 1}, 'z')) = 0 THEN 1 ELSE 0 END
      |    AS BIGINT), NULL
      |UNION ALL
      |SELECT 'doc_token_position',
      |  CAST(SUM(list_position(string_split(text, ' '), 'the')) AS BIGINT), NULL
      |FROM documents WHERE doc_id < 50
      |UNION ALL
      |SELECT 'doc_sorted_tokens', NULL,
      |  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], '|')
      |FROM documents WHERE doc_id = 0""".stripMargin

  val qNullSemanticsSql: String =
    """SELECT event_type, NULLIF(CAST(FLOOR(value) AS INT) % 5, 0) AS vkey,
      |  COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN NULLIF(CAST(FLOOR(value) AS INT) % 5, 0) IS NOT DISTINCT FROM NULL
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe_null,
      |  COALESCE(MIN(NULLIF(CAST(FLOOR(value) AS INT) % 5, 0)), -1) AS min_or_default
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Correlated scalar subquery: orders beating their customer's average —
    * Catalyst decorrelates into an aggregate + join (check the plan: no
    * per-row re-execution, unlike the reference's per-item Python loops).
    */
  def qScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_sq")
    s.sql(
      """SELECT o_orderkey, o_custkey,
        |  CAST(o_totalprice AS DOUBLE) AS o_totalprice
        |FROM orders_sq o
        |WHERE o_totalprice > 1.5 * (
        |  SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*)
        |  FROM orders_sq i WHERE i.o_custkey = o.o_custkey)""".stripMargin)
  }

  val qScalarSubquerySql: String =
    """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |FROM orders o
      |WHERE o_totalprice > 1.5 * (
      |  SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*)
      |  FROM orders i WHERE i.o_custkey = o.o_custkey)""".stripMargin

  /** HAVING over a grouped aggregate (TPC-H Q18 shape): heavy customers. */
  def qHaving(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spend"))
      .filter(col("n_orders") >= 15)
  }

  val qHavingSql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS total_spend
      |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15""".stripMargin

  /** Z-score outliers: events whose value sits >3σ from their event-type
    * mean. Mean and variance come from exact decimal Σx and Σx² (the
    * one-pass textbook form — order-independent, so both engines compute
    * identical doubles), z rounded to 6dp and ranked deterministically.
    * Covers variance/stddev (R7) without float-summation drift.
    */
  def qZscoreOutliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val stats = ev.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sx"),
        dSumSq(col("value")).as("sxx"))
      .withColumn("mean", col("sx") / col("n"))
      .withColumn("variance", (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
    ev.join(broadcast(stats), col("event_type") === col("et"))
      .withColumn("z", r6((col("value") - col("mean")) / sqrt(col("variance"))))
      .filter(abs(col("z")) > 3)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
  }

  val qZscoreOutliersSql: String =
    """WITH stats AS (
      |  SELECT event_type AS et, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * CAST(value AS DECIMAL(12,4)) AS DECIMAL(28,8))) AS DECIMAL(24,4)) AS DOUBLE) AS sxx
      |  FROM events GROUP BY event_type),
      |enriched AS (
      |  SELECT et, n, sx / n AS mean, (sxx - sx * sx / n) / (n - 1) AS variance
      |  FROM stats)
      |SELECT event_id, event_type, value,
      |  ROUND((value - mean) / SQRT(variance), 6) AS z
      |FROM events JOIN enriched ON event_type = et
      |WHERE ABS(ROUND((value - mean) / SQRT(variance), 6)) > 3""".stripMargin

  /** Funnel analysis: per user, the earliest signup → first click after it
    * → first purchase after that click; conversion counts per stage.
    * One shuffle on user_id; each stage is a conditional min over the
    * user's events — no self-joins, no row multiplication.
    */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("epoch", unix_timestamp(col("ts")))
    val perUser = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("epoch"))).as("t_signup"))
    val withClick = ev.join(perUser, "user_id")
      .groupBy(col("user_id"), col("t_signup"))
      .agg(min(when(col("event_type") === "click" && col("epoch") >= col("t_signup"),
        col("epoch"))).as("t_click"))
    val withPurchase = ev.join(withClick, "user_id")
      .groupBy(col("user_id"), col("t_signup"), col("t_click"))
      .agg(min(when(col("event_type") === "purchase" && col("epoch") >= col("t_click"),
        col("epoch"))).as("t_purchase"))
    withPurchase.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("t_signup").isNotNull, 1).otherwise(0)).as("reached_signup"),
      sum(when(col("t_click").isNotNull, 1).otherwise(0)).as("reached_click"),
      sum(when(col("t_purchase").isNotNull, 1).otherwise(0)).as("reached_purchase"))
  }

  val qFunnelSql: String =
    """WITH e AS (SELECT user_id, event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch
      |           FROM events),
      |s1 AS (SELECT user_id,
      |         MIN(CASE WHEN event_type = 'signup' THEN epoch END) AS t_signup
      |       FROM e GROUP BY user_id),
      |s2 AS (SELECT e.user_id, s1.t_signup,
      |         MIN(CASE WHEN e.event_type = 'click' AND e.epoch >= s1.t_signup
      |             THEN e.epoch END) AS t_click
      |       FROM e JOIN s1 ON e.user_id = s1.user_id
      |       GROUP BY e.user_id, s1.t_signup),
      |s3 AS (SELECT e.user_id, s2.t_signup, s2.t_click,
      |         MIN(CASE WHEN e.event_type = 'purchase' AND e.epoch >= s2.t_click
      |             THEN e.epoch END) AS t_purchase
      |       FROM e JOIN s2 ON e.user_id = s2.user_id
      |       GROUP BY e.user_id, s2.t_signup, s2.t_click)
      |SELECT COUNT(*) AS n_users,
      |  CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached_signup,
      |  CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached_click,
      |  CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached_purchase
      |FROM s3""".stripMargin

  /** Cohort retention: users grouped by first-activity day, counted by
    * days-since-cohort activity. Two aggregates over one shuffle family
    * (user_id then cohort grid); the grid output is #cohorts × #offsets —
    * tiny regardless of corpus size.
    */
  def qRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(firstDay, "user_id")
      .select(col("user_id"), col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .filter(col("day_offset") <= 7)
  }

  val qRetentionSql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
      |a AS (SELECT DISTINCT e.user_id, f.cohort_day,
      |        date_diff('day', f.cohort_day, e.day) AS day_offset
      |      FROM e JOIN f ON e.user_id = f.user_id)
      |SELECT cohort_day, day_offset, COUNT(DISTINCT user_id) AS active_users
      |FROM a WHERE day_offset <= 7
      |GROUP BY cohort_day, day_offset""".stripMargin

  /** Custom-connector query over the [[graft.io.dsv2.SyntheticSource]]
    * DataSource V2 table: the id-range predicate is PUSHED into the source
    * (narrows partition planning to [20000, 60000) — Dsv2Spec freezes
    * that), the `cat` predicate stays a Spark-side residual filter, and
    * only (id, val, cat) are generated thanks to column pruning (`score`
    * is never materialized). The relation is deterministic, so DuckDB
    * replicates it with range() + identical integer math.
    */
  def qDsv2(s: SparkSession, dir: String): DataFrame = {
    s.read.format("graft.io.dsv2.SyntheticSource")
      .option("rows", 100000L).option("slices", 8)
      .load()
      .filter(col("id") >= 20000L && col("id") < 60000L && col("cat") =!= "c3")
      .groupBy(col("cat"))
      .agg(count(lit(1)).as("n"),
        sum(col("val")).as("total_val"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
  }

  val qDsv2Sql: String =
    """SELECT 'c' || CAST(id % 7 AS VARCHAR) AS cat, COUNT(*) AS n,
      |  CAST(SUM((id * 2654435761) % 1000000) AS BIGINT) AS total_val,
      |  MIN(id) AS min_id, MAX(id) AS max_id
      |FROM range(0, 100000) AS t(id)
      |WHERE id >= 20000 AND id < 60000 AND 'c' || CAST(id % 7 AS VARCHAR) <> 'c3'
      |GROUP BY 1""".stripMargin

  /** LATERAL correlated subquery — top-2 orders per customer, the
    * "for each row, run this parameterized subquery" shape (SQL:2003
    * LATERAL, Spark 4 native). Catalyst decorrelates the per-row subquery
    * into a window-ranked join rather than executing it row-at-a-time, so
    * the declarative per-row spelling still scales: one shuffle on the
    * correlation key, per-key limit — the same plan q_topk's explicit
    * window would produce, without the caller writing it.
    */
  def qLateral(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_lat")
    Tables.orders(s, dir).createOrReplaceTempView("orders_lat")
    s.sql(
      """SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey, l.o_totalprice
        |FROM customer_lat c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lat
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) AS l""".stripMargin)
  }

  val qLateralSql: String =
    """SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey, l.o_totalprice
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) AS l""".stripMargin

  /** Recursive CTE (Spark 4 native WITH RECURSIVE) — each supplier walks
    * its binary-heap ancestor chain (parent = key DIV 2) to the root:
    * log-depth recursion, the hierarchy-flattening shape (org charts, BOM
    * explosions, category trees). Output = exact integer depth + ancestor
    * path length per supplier. Scale: each recursion step is one
    * equi-self-join of the frontier; depth is O(log key-space), and the
    * frontier shrinks monotonically — contrast with ConnectedComponents'
    * pointer-jumping for data-defined (non-structural) graphs.
    *
    * Row-limit safety valve scaled with input: total chain rows are
    * Σ_suppliers (⌊log2 suppkey⌋ + 2) ≤ 66·|supplier| — linear in the
    * dimension table, never combinatorial — so Spark's fixed default
    * `spark.sql.cteRecursionRowLimit` (1 M) trips on large supplier
    * counts (observed at the 100× rehearsal: 100 k suppliers × ~17-row
    * chains) even though the query's cost is provably bounded. We raise
    * the valve to that proven 66·n bound (one O(1)-row count on the
    * dimension table, control-plane only) instead of disabling it, so a
    * genuinely runaway recursion elsewhere in the session still fails.
    */
  def qRecursive(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
    sup.createOrReplaceTempView("supplier_rec")
    val rowBound = math.max(1000000L, sup.count() * 66L)
    s.conf.set("spark.sql.cteRecursionRowLimit", rowBound.toString)
    s.sql(
      """WITH RECURSIVE chain(suppkey, anc, depth) AS (
        |  SELECT s_suppkey, CAST(s_suppkey AS BIGINT), 0 FROM supplier_rec
        |  UNION ALL
        |  SELECT suppkey, anc DIV 2, depth + 1 FROM chain WHERE anc > 1)
        |SELECT suppkey, MAX(depth) AS depth_to_root, COUNT(*) AS chain_len
        |FROM chain GROUP BY suppkey""".stripMargin)
  }

  val qRecursiveSql: String =
    """WITH RECURSIVE chain(suppkey, anc, depth) AS (
      |  SELECT s_suppkey, CAST(s_suppkey AS BIGINT), 0 FROM supplier
      |  UNION ALL
      |  SELECT suppkey, anc // 2, depth + 1 FROM chain WHERE anc > 1)
      |SELECT suppkey, MAX(depth) AS depth_to_root, COUNT(*) AS chain_len
      |FROM chain GROUP BY suppkey""".stripMargin

  /** SCD Type-2 dimension build — collapse each user's event stream into
    * validity intervals of their event_type "state": a segment opens when
    * the type CHANGES (lag comparison), closes when the next segment opens
    * (lead), and the open segment is flagged current. The classic
    * warehouse history-table construction (effective_from/effective_to/
    * is_current) from an append-only event log.
    * Scale: two stacked per-user windows — one hash shuffle on user_id,
    * both sorts reuse it (same partitioning and ordering); no row
    * multiplication anywhere.
    */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val starts = Tables.events(s, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    starts
      .withColumn("valid_to", lead(col("ts"), 1).over(w2))
      .filter(col("user_id") < 300)
      .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  val qScd2Sql: String =
    """WITH starts AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events
      |  QUALIFY prev_type IS NULL OR prev_type <> event_type)
      |SELECT user_id, event_type, ts AS valid_from,
      |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      |FROM starts WHERE user_id < 300""".stripMargin

  /** Point-in-time (PIT) join against the SCD2 dimension — the
    * temporal-correctness primitive of every training-data feature
    * pipeline: enrich each fact with the dimension version that was
    * CURRENT AT THE FACT'S OWN TIMESTAMP, never a later one (joining
    * "current" attributes onto historical facts is the classic label-
    * leakage bug). Probe = purchase events; dimension = the qScd2-style
    * per-user status history (run-length segments of event_type). The
    * join is equi on user_id with the validity-interval predicate
    * valid_from <= ts < valid_to (NULL valid_to = open segment), which
    * Spark plans as a sort-merge on the USER key with the interval as a
    * residual — scalable because per-user version counts are bounded
    * (dimension-history-sized, not fact-sized); at extreme history depth
    * the same semantics are available as a backward as-of join on segment
    * starts (plans/AsofJoinNative — segments partition the
    * per-user timeline, so latest-start-<=-ts IS interval membership).
    * Half-open intervals make duplicate segment-start timestamps
    * self-deduplicating: the superseded segment is [t, t) = empty.
    */
  def qScd2Pit(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val dim = Tables.events(s, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type").as("as_of_status"),
        col("ts").as("status_since"), col("valid_to"))
    val probe = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    probe.join(dim,
        probe("user_id") === dim("user_id") &&
          col("ts") >= col("status_since") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("event_id"), probe("user_id"), col("ts"),
        col("as_of_status"), col("status_since"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("status_since")))
          .cast("bigint").as("status_age_sec"))
  }

  val qScd2PitSql: String =
    """WITH seg AS (
      |  SELECT user_id, event_type AS as_of_status, ts AS status_since, event_id,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events
      |  QUALIFY prev_type IS NULL OR prev_type <> event_type),
      |dim AS (
      |  SELECT user_id, as_of_status, status_since,
      |    LEAD(status_since) OVER (PARTITION BY user_id ORDER BY status_since, event_id)
      |      AS valid_to
      |  FROM seg),
      |probe AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts, d.as_of_status, d.status_since,
      |  CAST(date_diff('second', d.status_since, p.ts) AS BIGINT) AS status_age_sec
      |FROM probe p JOIN dim d
      |  ON p.user_id = d.user_id AND p.ts >= d.status_since
      |  AND (d.valid_to IS NULL OR p.ts < d.valid_to)""".stripMargin

  /** Z-order (Morton) data layout vs lexicographic, measured by the file
    * statistics a lakehouse scan actually prunes with. At 100 TB the scan
    * IS the query cost, and min/max file stats only prune when the layout
    * clusters the predicate columns; a single-column (lexicographic) sort
    * gives tight ranges on the leading column and useless full-range stats
    * on every other. Z-ordering interleaves the bits of both columns so
    * EVERY bucket is a small rectangle in (x, y) space — the OPTIMIZE
    * ZORDER primitive of Delta/Iceberg, built here from pure codegen'd bit
    * arithmetic (no UDF, no global sort: buckets are VALUE-range blocks of
    * the z-curve, so layout assignment is map-only and shuffle-free — each
    * output file is a z-range, exactly how a distributed writer would
    * range-partition the curve).
    *
    * The query lays lineitem out both ways (4096-z-value buckets), computes
    * per-bucket min/max stats, and reports how many buckets a box predicate
    * (x∈[96,223], y∈[256,511]) would have to scan under each layout, plus
    * the true matching row count as the anchor. Everything is exact integer
    * arithmetic, so the oracle replicates the interleave bit-for-bit.
    */
  def qZorder(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(pmod(col("l_partkey"), lit(1024)).as("x"),
        pmod(col("l_suppkey"), lit(1024)).as("y"))
    val z = mortonZ("x", "y")
    val laid = li.withColumn("zb", shiftright(z, 8))
      .withColumn("lb", shiftright(col("x") * 1024 + col("y"), 8))
    def stats(bucket: String) = laid.groupBy(col(bucket).as("b"))
      .agg(min(col("x")).as("minx"), max(col("x")).as("maxx"),
        min(col("y")).as("miny"), max(col("y")).as("maxy"))
    val hit = col("minx") <= 223 && col("maxx") >= 96 &&
      col("miny") <= 511 && col("maxy") >= 256
    val zAgg = stats("zb").agg(
      count(lit(1)).as("n_buckets_z"),
      sum(when(hit, 1L).otherwise(0L)).cast("bigint").as("n_hit_z"))
    val lAgg = stats("lb").agg(
      count(lit(1)).as("n_buckets_lex"),
      sum(when(hit, 1L).otherwise(0L)).cast("bigint").as("n_hit_lex"))
    val rows = laid.agg(
      sum(when(col("x").between(96, 223) && col("y").between(256, 511), 1L)
        .otherwise(0L)).cast("bigint").as("n_rows_match"))
    zAgg.crossJoin(lAgg).crossJoin(rows)
  }

  val qZorderSql: String =
    """WITH base AS (
      |  SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem),
      |zt AS (
      |  SELECT x, y,
      |    CAST(list_sum(list_transform(range(0, 10), i ->
      |      (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))))
      |      AS BIGINT) AS z
      |  FROM base),
      |sz AS (SELECT z >> 8 AS b, MIN(x) AS minx, MAX(x) AS maxx,
      |         MIN(y) AS miny, MAX(y) AS maxy FROM zt GROUP BY 1),
      |sl AS (SELECT (x * 1024 + y) >> 8 AS b, MIN(x) AS minx, MAX(x) AS maxx,
      |         MIN(y) AS miny, MAX(y) AS maxy FROM base GROUP BY 1)
      |SELECT
      |  (SELECT COUNT(*) FROM sz) AS n_buckets_z,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sz
      |   WHERE minx <= 223 AND maxx >= 96 AND miny <= 511 AND maxy >= 256) AS n_hit_z,
      |  (SELECT COUNT(*) FROM sl) AS n_buckets_lex,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sl
      |   WHERE minx <= 223 AND maxx >= 96 AND miny <= 511 AND maxy >= 256) AS n_hit_lex,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM base
      |   WHERE x BETWEEN 96 AND 223 AND y BETWEEN 256 AND 511) AS n_rows_match""".stripMargin

  /** Order-10 Morton (Z) interleave of two 10-bit grid columns. ONE
    * definition for both layout queries (q_zorder's layout and q_hilbert's
    * head-to-head comparison must interleave identically). Backed by the
    * compact codegen'd kernel expression — see functions/CurveIndex.scala
    * for why the former 20-term column sum was replaced (HotSpot's
    * huge-method JIT refusal once both curves share a codegen stage).
    */
  def mortonZ(xCol: String, yCol: String): Column =
    PlanBridge.column(graft.functions.MortonIndex(
      PlanBridge.expression(col(xCol).cast("long")),
      PlanBridge.expression(col(yCol).cast("long"))))

  /** Appends `hd` = order-10 Hilbert index of integer grid columns
    * (xCol, yCol), both in [0, 1024). Backed by the codegen'd kernel
    * expression (functions/CurveIndex.scala); HilbertSpec pins it against
    * an independent in-JVM xy2d reference and checks injectivity and
    * unit-step adjacency.
    */
  def withHilbertIndex(df0: DataFrame, xCol: String, yCol: String): DataFrame =
    df0.withColumn("hd", PlanBridge.column(graft.functions.HilbertIndex(
      PlanBridge.expression(col(xCol).cast("long")),
      PlanBridge.expression(col(yCol).cast("long")))))

  /** Hilbert-curve data layout — the locality-preserving alternative to
    * q_zorder's Morton curve (the OPTIMIZE ... ZORDER successor Delta/
    * Iceberg ship as "hilbert" clustering): unlike Z, consecutive Hilbert
    * indices are ALWAYS grid neighbors (no long diagonal jumps), so
    * bucket bounding boxes are tighter and box predicates prune more
    * files. The Morton index rides in the same scan for a head-to-head
    * bucket-pruning comparison on the identical box predicate
    * (x∈[96,223], y∈[256,511]). The quadrant flip uses the full-grid
    * complement (1023−v ≡ v XOR (n−1)), which agrees with the
    * sub-quadrant flip on every bit later steps examine while keeping the
    * value in range. Exactness: all-integer; the oracle replays the
    * unrolled recurrence CTE-for-CTE. Scale: layout assignment is
    * map-only and shuffle-free (buckets are value ranges of the curve),
    * and the three audits (Hilbert bucket stats, Morton bucket stats,
    * exact box-row count) derive from ONE corpus scan: each row fans out
    * to its two (curve, bucket) tags through a Generate — the curve
    * kernels sit in the Generate's INPUT projection, evaluated once per
    * row — and the doubled stream aggregates by (curve, bucket), 2·4096
    * groups, fully collapsed by map-side partial aggregation. The final
    * verdict row is ONE grouping-less aggregate over the 8192-row stats
    * table — no crossJoins, no BNLJ, no persist (8.4 s / 4.8 MB shuffle
    * at the 100× rehearsal). min/max over per-bucket min/max equals
    * min/max over rows and the box-row sum is bucket-additive, so results
    * are bit-identical to the direct three-consumer spelling the oracle
    * replays. The 100× debugging history — why the unrolled column
    * recurrence ran INTERPRETED once both curves shared a codegen stage
    * (HotSpot's huge-method JIT refusal, 71 s), why a GROUPING SETS
    * respelling was worse still (CollapseProject clones the recurrence
    * into each Expand projection, 210 s), and why the fix is a compact
    * kernel expression — lives in functions/CurveIndex.scala.
    */
  def qHilbert(s: SparkSession, dir: String): DataFrame = {
    // multiplicative spread so both coordinates cover the full 1024 grid
    // at every sf (raw l_suppkey tops out at 99 at sf0.01 — a box
    // predicate on the raw value would be vacuously empty)
    val li = Tables.lineitem(s, dir)
      .select(pmod(col("l_partkey") * 17, lit(1024)).as("gx"),
        pmod(col("l_suppkey") * 53, lit(1024)).as("gy"))
    val f = withHilbertIndex(li.withColumn("z", mortonZ("gx", "gy")), "gx", "gy")
    val laid = f.select(col("gx"), col("gy"),
      shiftright(col("hd"), 8).cast("long").as("hb"),
      shiftright(col("z"), 8).cast("long").as("zb"))
    val inBox = col("gx").between(96, 223) && col("gy").between(256, 511)
    // one scan: hd/z are each referenced ONCE below, so the recurrence
    // lives in the Generate's input projection; integer curve tags keep
    // the aggregation key primitive (string keys bypass the fast map)
    val tagged = laid
      .select(col("gx"), col("gy"),
        when(inBox, 1L).otherwise(0L).as("in_box"),
        explode(array(
          struct(lit(0).as("curve"), col("hb").as("b")),
          struct(lit(1).as("curve"), col("zb").as("b")))).as("cb"))
    val stats = tagged.groupBy(col("cb.curve").as("curve"), col("cb.b").as("b"))
      .agg(min(col("gx")).as("minx"), max(col("gx")).as("maxx"),
        min(col("gy")).as("miny"), max(col("gy")).as("maxy"),
        sum(col("in_box")).as("n_in_box"))
    val hit = col("minx") <= 223 && col("maxx") >= 96 &&
      col("miny") <= 511 && col("maxy") >= 256
    stats.agg(
      sum(when(col("curve") === 0, 1L).otherwise(0L)).cast("bigint").as("n_buckets_h"),
      sum(when(col("curve") === 0 && hit, 1L).otherwise(0L)).cast("bigint").as("n_hit_h"),
      sum(when(col("curve") === 1 && hit, 1L).otherwise(0L)).cast("bigint").as("n_hit_z"),
      sum(when(col("curve") === 0, col("n_in_box")).otherwise(0L)).cast("bigint").as("n_rows_match"))
  }

  val qHilbertSql: String = {
    // one CTE per unrolled step with step-suffixed column names (x9..x0),
    // so DuckDB's lateral alias binding can never capture a same-SELECT
    // alias — each expression references only the previous CTE's columns
    val steps = (9 to 0 by -1).map { i =>
      val sb = 1 << i
      val p = i + 1
      s"""h$i AS (
         |  SELECT gx, gy, z,
         |    d$p + ${sb.toLong * sb} * xor(3 * CASE WHEN (x$p & $sb) > 0 THEN 1 ELSE 0 END,
         |                  CASE WHEN (y$p & $sb) > 0 THEN 1 ELSE 0 END) AS d$i,
         |    CASE WHEN (y$p & $sb) = 0
         |         THEN CASE WHEN (x$p & $sb) > 0 THEN 1023 - y$p ELSE y$p END
         |         ELSE x$p END AS x$i,
         |    CASE WHEN (y$p & $sb) = 0
         |         THEN CASE WHEN (x$p & $sb) > 0 THEN 1023 - x$p ELSE x$p END
         |         ELSE y$p END AS y$i
         |  FROM h$p)""".stripMargin
    }
    s"""WITH h10 AS (
       |  SELECT (l_partkey * 17) % 1024 AS gx, (l_suppkey * 53) % 1024 AS gy,
       |    CAST(list_sum(list_transform(range(0, 10), i ->
       |      (((((l_partkey * 17) % 1024) >> i) & 1) << (2 * i))
       |      + (((((l_suppkey * 53) % 1024) >> i) & 1) << (2 * i + 1))))
       |      AS BIGINT) AS z,
       |    (l_partkey * 17) % 1024 AS x10, (l_suppkey * 53) % 1024 AS y10,
       |    CAST(0 AS BIGINT) AS d10
       |  FROM lineitem),
       |${steps.mkString(",\n")},
       |laid AS (SELECT gx, gy, d0 >> 8 AS hb, z >> 8 AS zb FROM h0),
       |sh AS (SELECT hb AS b, MIN(gx) AS minx, MAX(gx) AS maxx,
       |         MIN(gy) AS miny, MAX(gy) AS maxy FROM laid GROUP BY 1),
       |sz AS (SELECT zb AS b, MIN(gx) AS minx, MAX(gx) AS maxx,
       |         MIN(gy) AS miny, MAX(gy) AS maxy FROM laid GROUP BY 1)
       |SELECT
       |  (SELECT COUNT(*) FROM sh) AS n_buckets_h,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sh
       |   WHERE minx <= 223 AND maxx >= 96 AND miny <= 511 AND maxy >= 256) AS n_hit_h,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sz
       |   WHERE minx <= 223 AND maxx >= 96 AND miny <= 511 AND maxy >= 256) AS n_hit_z,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM laid
       |   WHERE gx BETWEEN 96 AND 223 AND gy BETWEEN 256 AND 511) AS n_rows_match""".stripMargin
  }

  /** CDC merge-apply — the MERGE INTO primitive every lakehouse table
    * maintenance job runs: a change feed (inserts/updates/deletes derived
    * from the event log: signup→upsert, purchase→upsert, error→delete) is
    * applied onto a base snapshot (customer balances) with last-writer-wins
    * ordering by (ts, event_id). The scale shape is the canonical one: the
    * feed collapses to ONE winning op per key first (map-side-combinable
    * window over the CDC shuffle — state is #keys, not #events), then a
    * single full-outer equi-join against the snapshot applies it; no
    * driver loop, no per-row point lookups. Complements q_scd2 (type-2
    * history) and q_snapshot_diff (reconciliation): this is the type-1
    * "current state" maintenance op.
    */
  def qMergeApply(s: SparkSession, dir: String): DataFrame = {
    val cdc = Tables.events(s, dir)
      .filter(col("event_type").isin("signup", "purchase", "error") &&
        col("user_id") < 2000)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"), col("event_id"))
    val wLast = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val last = cdc.withColumn("rk", row_number().over(wLast))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("op"), col("value"))
    val snap = Tables.customer(s, dir)
      .filter(col("c_custkey") < 2000)
      .select(col("c_custkey").as("user_id"), col("c_acctbal").as("balance"))
    last.join(snap, Seq("user_id"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "error") // delete wins → row gone
      .select(col("user_id"),
        when(col("op").isNull, "kept")
          .when(col("balance").isNull, "inserted")
          .otherwise("updated").as("status"),
        when(col("op").isNull, col("balance")).otherwise(col("value")).as("balance"))
  }

  val qMergeApplySql: String =
    """WITH cdc AS (
      |  SELECT user_id, event_type, value, ts, event_id FROM events
      |  WHERE event_type IN ('signup', 'purchase', 'error') AND user_id < 2000),
      |last AS (
      |  SELECT user_id, event_type AS op, value FROM (
      |    SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
      |    FROM cdc) WHERE rk = 1),
      |snap AS (SELECT c_custkey AS user_id, c_acctbal AS balance
      |         FROM customer WHERE c_custkey < 2000)
      |SELECT COALESCE(l.user_id, s.user_id) AS user_id,
      |  CASE WHEN l.op IS NULL THEN 'kept'
      |       WHEN s.balance IS NULL THEN 'inserted'
      |       ELSE 'updated' END AS status,
      |  CASE WHEN l.op IS NULL THEN s.balance ELSE l.value END AS balance
      |FROM last l FULL OUTER JOIN snap s ON l.user_id = s.user_id
      |WHERE l.op IS NULL OR l.op <> 'error'""".stripMargin

  /** Per-key quota enforcement — the ingestion guardrail (at most N events
    * per user per hour; the rest are spilled to a quarantine count). Pure
    * rank-within-(key, hour): deterministic admission by (ts, event_id)
    * arrival order, no state beyond the partition sort, map-side
    * combinable rollup. The per-hour bucketing is exactly how a 100 TB
    * ingest shards this: the rank window never sees more than one (user,
    * hour) group at once.
    */
  def qQuota(s: SparkSession, dir: String): DataFrame = {
    // cap = 1 event per (user, hour): every second-or-later event in an
    // hour quarantines, so the admission path fires at every sf (the old
    // cap=3 + HAVING>0 shape returned 0 rows at small sf — both engines
    // agreed on the empty frame, validating nothing). Report EVERY user
    // (no post-filter) so the frame is non-empty at any scale.
    val cap = 1
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        date_trunc("hour", col("ts")).as("hr"))
    val w = Window.partitionBy(col("user_id"), col("hr"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("rk", row_number().over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("rk") <= cap, 1L).otherwise(0L)).cast("bigint").as("n_admitted"),
        sum(when(col("rk") > cap, 1L).otherwise(0L)).cast("bigint").as("n_quarantined"))
  }

  val qQuotaSql: String =
    """WITH r AS (
      |  SELECT user_id, ROW_NUMBER() OVER (
      |      PARTITION BY user_id, date_trunc('hour', ts)
      |      ORDER BY ts, event_id) AS rk
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN rk <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
      |  CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined
      |FROM r GROUP BY user_id""".stripMargin

  def all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_zorder" -> ((qZorder _, Some(qZorderSql))),
    "q_hilbert" -> ((qHilbert _, Some(qHilbertSql))),
    "q_merge_apply" -> ((qMergeApply _, Some(qMergeApplySql))),
    "q_quota" -> ((qQuota _, Some(qQuotaSql))),
    "q_scd2" -> ((qScd2 _, Some(qScd2Sql))),
    "q_scd2_pit" -> ((qScd2Pit _, Some(qScd2PitSql))),
    "q_lateral" -> ((qLateral _, Some(qLateralSql))),
    "q_recursive" -> ((qRecursive _, Some(qRecursiveSql))),
    "q_dsv2" -> ((qDsv2 _, Some(qDsv2Sql))),
    "q_retention" -> ((qRetention _, Some(qRetentionSql))),
    "q_zscore_outliers" -> ((qZscoreOutliers _, Some(qZscoreOutliersSql))),
    "q_funnel" -> ((qFunnel _, Some(qFunnelSql))),
    "q_scalar_subquery" -> ((qScalarSubquery _, Some(qScalarSubquerySql))),
    "q_exists_subquery" -> ((qExistsSubquery _, Some(qExistsSubquerySql))),
    "q_not_in_nulls" -> ((qNotInNulls _, Some(qNotInNullsSql))),
    "q_correlation" -> ((qCorrelation _, Some(qCorrelationSql))),
    "q_null_semantics" -> ((qNullSemantics _, Some(qNullSemanticsSql))),
    "q_hostile_semantics" -> ((qHostileSemantics _, Some(qHostileSemanticsSql))),
    "q_hostile_relational" -> ((qHostileRelational _, Some(qHostileRelationalSql))),
    "q_hostile_window" -> ((qHostileWindow _, Some(qHostileWindowSql))),
    "q_hostile_datetime" -> ((qHostileDatetime _, Some(qHostileDatetimeSql))),
    "q_hostile_numeric" -> ((qHostileNumeric _, Some(qHostileNumericSql))),
    "q_hostile_string" -> ((qHostileString _, Some(qHostileStringSql))),
    "q_hostile_collection" -> ((qHostileCollection _, Some(qHostileCollectionSql))),
    "q_having" -> ((qHaving _, Some(qHavingSql))),
    "q_asof_join" -> ((qAsofJoin _, Some(qAsofJoinSql))),
    "q_asof_native" -> ((qAsofJoin _, Some(qAsofJoinSql))),
    "q_asof_native_fwd" -> ((qAsofForward _, Some(qAsofForwardSql))),
    "q_asof_native_tol" -> ((qAsofTolerance _, Some(qAsofToleranceSql))),
    "q_asof_forward" -> ((qAsofForward _, Some(qAsofForwardSql))),
    "q_asof_tolerance" -> ((qAsofTolerance _, Some(qAsofToleranceSql))),
    "q_sessionize" -> ((qSessionize _, Some(qSessionizeSql))),
    "q_pivot" -> ((qPivot _, Some(qPivotSql))),
    "q_count_distinct" -> ((qCountDistinct _, Some(qCountDistinctSql))),
    "q_regex_fns" -> ((qRegexFns _, Some(qRegexFnsSql))),
    "q_percentiles" -> ((qPercentiles _, Some(qPercentilesSql))),
    "q_approx_percentile" -> ((qApproxPercentile _, Some(qApproxPercentileSql)))
  )
}
