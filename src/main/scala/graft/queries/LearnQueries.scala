package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import Exact._

/** Corpus/vocabulary LEARNING operators — the iterative-algorithm surface a
  * training-data pipeline needs beyond per-row transforms: subword
  * vocabulary induction (BPE), smoothed language-model estimation
  * (Kneser-Ney), and the embedding-algebra building blocks of PCA and
  * k-means (exact Gram matrix, Lloyd assignment step).
  *
  * The reference has none of these (its jobs are opaque Python bodies,
  * bert/binding.py:30-44); they are the standard public algorithms
  * (Sennrich et al. 2016 BPE; Kneser & Ney 1995; Lloyd 1982) re-expressed
  * as Spark dataflows. Shared design rule: the DISTRIBUTED part is
  * declarative (map-side-combinable groupBy pair counts, broadcast
  * centroid tables, narrow per-row rewrites); only O(1)-sized global
  * decisions (the argmax merge of a BPE round) touch the driver — the
  * same shape these algorithms take on a real 1000-executor corpus run.
  */
object LearnQueries {

  // ---------------------------------------------------------------- BPE --

  /** Symbol-string encoding for BPE: '||' between symbols AND at both ends
    * ('||h||e||r||'). A merge (a,b) is then the plain string replace
    * '|a||b|' -> '|ab|': the pattern consumes ONE pipe of each double
    * boundary, so left-to-right non-overlapping replace() — identical
    * semantics in Spark and DuckDB — applies the merge exactly like
    * greedy BPE ('aaaa' -> 'aa aa', 'aaa' -> 'aa a'), and the surviving
    * pipe keeps a symbol boundary from ever matching inside a longer
    * symbol ('xa b' cannot match '|a||b|').
    */
  private val symCol =
    concat(lit("||"), concat_ws("||", expr("filter(split(w, ''), x -> x <> '')")), lit("||"))

  /** Byte-pair-encoding vocabulary induction, 3 merge rounds over the word
    * frequencies of the whole corpus (Sennrich et al. 2016). Per round:
    * (1) adjacent-symbol pair counts — an explode + groupBy that map-side
    * combines down to ~|vocab| keys; (2) the argmax pair (count desc, then
    * lexicographic — fully deterministic) — a 1-row collect, the only
    * driver touch; (3) the merge applied as a narrow per-row replace().
    * At 100 TB the word-frequency table this runs on is already tiny
    * (vocab-sized), so rounds cost one small shuffle each.
    *
    * Oracle: DuckDB replays all 3 rounds with the same encoding via
    * chained CTEs; independently cross-checked against a plain-Python BPE.
    */
  def qBpeMerges(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("sym", symCol)
      .select(col("freq"), col("sym"))
    graft.ops.Lineage.pinned(words) { words =>
      var cur = words.select(col("freq"), col("sym"))
      val out = Seq.newBuilder[(Int, String, String, String, Long)]
      for (it <- 1 to 3) {
        val tops = cur
          .withColumn("li", expr("filter(split(sym, '\\\\|\\\\|'), x -> x <> '')"))
          .filter(size(col("li")) >= 2) // sequence(0,-1) would run DESCENDING
          .select(col("freq"), explode(expr(
            "transform(sequence(0, size(li)-2), i -> struct(li[i] AS lhs, li[i+1] AS rhs))"))
            .as("pr"))
          .groupBy(col("pr.lhs").as("lhs"), col("pr.rhs").as("rhs"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
          .limit(1).collect()
        require(tops.nonEmpty,
          s"BPE round $it: no adjacent symbol pairs left to merge (degenerate corpus)")
        val top = tops(0)
        val (l, r, c) = (top.getString(0), top.getString(1), top.getLong(2))
        // the corpus is plain words; fail loudly rather than build a
        // malformed replace pattern if that ever changes
        require((l + r).matches("[A-Za-z0-9]+"), s"non-alphanumeric symbol '$l','$r'")
        out += ((it, l, r, l + r, c))
        cur = cur.withColumn("sym", expr(s"replace(sym, '|$l||$r|', '|$l$r|')"))
      }
      s.createDataFrame(out.result())
        .toDF("iter", "lhs", "rhs", "merged", "pair_count")
    }
  }

  /** The 3-round merge-learning CTE chain, shared verbatim between the
    * qBpeMerges oracle and the qBpeEncode oracle (the qDedupClusters "one
    * source of truth" pattern: a parameter change cannot desynchronize the
    * learner from the encoder).
    */
  private val bpeLearnCtes: String =
    """WITH wf AS (
      |  SELECT w, COUNT(*) AS freq FROM (
      |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY w),
      |w0 AS (SELECT freq, '||' || array_to_string(list_filter(string_split(w, ''), x -> x <> ''), '||') || '||' AS sym FROM wf),
      |l0 AS (SELECT freq, list_filter(string_split(sym, '||'), x -> x <> '') AS li FROM w0),
      |p1 AS (SELECT li[CAST(i AS INT)] AS lhs, li[CAST(i+1 AS INT)] AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
      |       FROM l0, UNNEST(range(1, len(li))) AS u(i) GROUP BY 1, 2),
      |m1 AS (SELECT * FROM p1 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
      |w1 AS (SELECT freq, replace(sym, '|'||m1.lhs||'||'||m1.rhs||'|', '|'||m1.lhs||m1.rhs||'|') AS sym FROM w0, m1),
      |l1 AS (SELECT freq, list_filter(string_split(sym, '||'), x -> x <> '') AS li FROM w1),
      |p2 AS (SELECT li[CAST(i AS INT)] AS lhs, li[CAST(i+1 AS INT)] AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
      |       FROM l1, UNNEST(range(1, len(li))) AS u(i) GROUP BY 1, 2),
      |m2 AS (SELECT * FROM p2 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
      |w2 AS (SELECT freq, replace(sym, '|'||m2.lhs||'||'||m2.rhs||'|', '|'||m2.lhs||m2.rhs||'|') AS sym FROM w1, m2),
      |l2 AS (SELECT freq, list_filter(string_split(sym, '||'), x -> x <> '') AS li FROM w2),
      |p3 AS (SELECT li[CAST(i AS INT)] AS lhs, li[CAST(i+1 AS INT)] AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
      |       FROM l2, UNNEST(range(1, len(li))) AS u(i) GROUP BY 1, 2),
      |m3 AS (SELECT * FROM p3 ORDER BY cnt DESC, lhs, rhs LIMIT 1)""".stripMargin

  val qBpeMergesSql: String =
    bpeLearnCtes + """
      |SELECT 1 AS iter, lhs, rhs, lhs||rhs AS merged, cnt AS pair_count FROM m1
      |UNION ALL SELECT 2, lhs, rhs, lhs||rhs, cnt FROM m2
      |UNION ALL SELECT 3, lhs, rhs, lhs||rhs, cnt FROM m3
      |ORDER BY iter""".stripMargin

  /** BPE ENCODING — applying the learned vocabulary (the other half of the
    * tokenizer lifecycle; qBpeMerges is the training half): re-segment the
    * corpus's word table with the 3 learned merges and report the top of
    * the resulting token distribution. The merge list is driver-side by
    * construction (it IS the 3-row argmax output); application is a narrow
    * per-row replace chain over the vocab-sized word-frequency table —
    * at 100 TB the corpus contributes only word COUNTS (one map-side-
    * combined aggregate); everything after is vocabulary-scale.
    * Oracle: the SAME learning CTEs as q_bpe_merges, plus the encode step.
    */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = qBpeMerges(s, dir).collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
    val words = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("sym", symCol)
    val encoded = merges.foldLeft(words) { case (df, (l, r)) =>
      df.withColumn("sym", expr(s"replace(sym, '|$l||$r|', '|$l$r|')"))
    }
    encoded
      .select(col("freq"), explode(expr(
        "filter(split(sym, '\\\\|\\\\|'), x -> x <> '')")).as("token"))
      .groupBy(col("token"))
      .agg(sum(col("freq")).cast("bigint").as("n_occ"))
      .orderBy(col("n_occ").desc, col("token"))
      .limit(30)
      .select(col("token"), length(col("token")).as("tok_len"), col("n_occ"))
  }

  val qBpeEncodeSql: String =
    bpeLearnCtes + """,
      |w3 AS (SELECT freq, replace(sym, '|'||m3.lhs||'||'||m3.rhs||'|', '|'||m3.lhs||m3.rhs||'|') AS sym FROM w2, m3),
      |tok AS (SELECT freq, UNNEST(list_filter(string_split(sym, '||'), x -> x <> '')) AS token FROM w3)
      |SELECT token, CAST(length(token) AS INT) AS tok_len, CAST(SUM(freq) AS BIGINT) AS n_occ
      |FROM tok GROUP BY token
      |ORDER BY n_occ DESC, token LIMIT 30""".stripMargin

  // --------------------------------------------------------- Kneser-Ney --

  /** Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1999) with the standard discount D = 0.75 — the
    * smoothing used by real LM-based quality filters (q_perplexity runs
    * the unsmoothed MLE twin). D = 3/4 is dyadic, so with integer counts
    * the whole formula is one integer ratio:
    *
    *   P_KN(w2|w1) = (c - D)/cw1 + D * n1f(w1)/cw1 * n1b(w2)/T
    *               = ((4c - 3)*T + 3*n1f*n1b) / (4*cw1*T)
    *
    * (c = bigram count, cw1 = Σ_w2 c, n1f/n1b = distinct right/left
    * continuations, T = distinct bigram types). Both engines compute the
    * identical BIGINT numerator/denominator — the probability itself is
    * gated exactly, not within-epsilon. Counts are map-side-combinable
    * groupBys; the "model" (the three count tables) stays vocab²-bounded
    * regardless of corpus size — the 100 TB shape is unchanged.
    */
  def qKneserNey(s: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(s, dir)
      .select(expr("filter(split(text, ' '), x -> x <> '')").as("tk"))
      .filter(size(col("tk")) >= 2)
    val big = tk.select(explode(expr(
      "transform(sequence(0, size(tk)-2), i -> struct(tk[i] AS w1, tk[i+1] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val f = c.groupBy(col("w1")).agg(sum(col("c")).as("cw1"), count(lit(1)).as("n1f"))
    val bk = c.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val t = c.agg(count(lit(1)).as("T"))
    c.join(f, "w1").join(bk, "w2").crossJoin(broadcast(t))
      .select(col("w1"), col("w2"), col("c").as("c_bigram"),
        ((col("c") * 4 - 3) * col("T") + col("n1f") * col("n1b") * 3).as("p_num"),
        (col("cw1") * col("T") * 4).as("p_den"))
      .withColumn("p_kn", r6(col("p_num").cast("double") / col("p_den")))
      .orderBy(col("c_bigram").desc, col("w1"), col("w2"))
      .limit(30)
  }

  val qKneserNeySql: String =
    """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
      |b AS (SELECT tk[CAST(i AS INT)] AS w1, tk[CAST(i+1 AS INT)] AS w2
      |      FROM t, UNNEST(range(1, len(tk))) AS u(i)),
      |c AS (SELECT w1, w2, COUNT(*) AS c FROM b GROUP BY 1, 2),
      |f AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cw1, COUNT(*) AS n1f FROM c GROUP BY 1),
      |bk AS (SELECT w2, COUNT(*) AS n1b FROM c GROUP BY 1),
      |tt AS (SELECT COUNT(*) AS T FROM c)
      |SELECT c.w1, c.w2, c.c AS c_bigram,
      |  CAST((4*c.c - 3)*T + 3*f.n1f*bk.n1b AS BIGINT) AS p_num,
      |  CAST(4*f.cw1*T AS BIGINT) AS p_den,
      |  ROUND(CAST((4*c.c - 3)*T + 3*f.n1f*bk.n1b AS DOUBLE) / (4*f.cw1*T), 6) AS p_kn
      |FROM c JOIN f USING (w1) JOIN bk USING (w2), tt
      |ORDER BY c_bigram DESC, w1, w2 LIMIT 30""".stripMargin

  // -------------------------------------------------------- Gram matrix --

  /** Exact upper-triangular Gram matrix Xᵀ X of the embedding corpus — the
    * covariance/PCA building block (d×d fits on the driver; the power
    * iteration that follows it is O(d²) local work). Spark-first shape:
    * each row expands to its OWN d(d+1)/2 products via nested transform +
    * one explode — NO self-join, no shuffle except the final d²-key
    * groupBy (map-side combined: every partition reduces to ≤2080 cells
    * before the exchange — at 100 TB the shuffle still carries only
    * #partitions × d² rows). Products are computed in double (engine-
    * identical IEEE) then decimal-accumulated (order-independent), the
    * qCentroids algebra. The oracle spells the same sum as an explicit
    * position self-join.
    */
  def qGramMatrix(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(embedding)-1), i ->
          |  transform(sequence(i, size(embedding)-1), j ->
          |    named_struct('i', i, 'j', j,
          |      'p', CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)
          |              AS DECIMAL(28,14))))))""".stripMargin)).as("t"))
      .groupBy(col("t.i").as("i"), col("t.j").as("j"))
      .agg(r6(sum(col("t.p")).cast("double")).as("gram"))
  }

  val qGramMatrixSql: String =
    """WITH x AS (SELECT vec_id, i - 1 AS i, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS xi
      |           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i))
      |SELECT a.i AS i, b.i AS j,
      |  ROUND(CAST(SUM(CAST(a.xi * b.xi AS DECIMAL(28,14))) AS DOUBLE), 6) AS gram
      |FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------- PCA power method --

  /** Two power-method iterations toward the dominant eigenpair of the Gram
    * matrix (the PCA first component): v1 = G·1, v2 = G·v1, v3 = G·v2,
    * with per-dim Rayleigh-style ratios v3/v2 converging to λ_max. Each
    * matrix-vector product is one equi-join (G row key × vector key) + a
    * d-key groupBy — the Spark-native spelling of distributed linear
    * algebra; the vector is d rows, so at 100 TB only the ONE Gram build
    * touches the corpus and every iteration after it is metadata-scale.
    * Numerics: iterates on the r6'd gram (the gated artifact), every sum
    * decimal-accumulated (order-independent), per-term products in double
    * (engine-identical); v1 is exact, deeper iterates r6'd.
    */
  def qPcaPower(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // truncated: the symmetric expansion references the Gram aggregate
    // from two union branches and each mat-vec joins it again — without
    // the pin every reference re-runs the CORPUS pass (the one cost that
    // matters at scale). The table is d(d+1)/2 rows.
    val g = graft.ops.Lineage.truncate(qGramMatrix(s, dir))
    val full = g.union(
      g.filter(col("i") < col("j")).select(col("j").as("i"), col("i").as("j"), col("gram")))
    def matVec(v: DataFrame, vCol: String, outCol: String): DataFrame =
      full.join(v.select(col("dim").as("i"), col(vCol)), "i")
        .groupBy(col("j").as("dim"))
        .agg(sum((col("gram") * col(vCol)).cast(DecimalType(28, 14)))
          .cast("double").as(outCol))
    val v1 = full.groupBy(col("j").as("dim"))
      .agg(sum(col("gram").cast(DecimalType(20, 6))).cast("double").as("v1"))
    val v2 = matVec(v1, "v1", "v2")
    val v3 = matVec(v2, "v2", "v3")
    v1.join(v2, "dim").join(v3, "dim")
      .select(col("dim"), col("v1"), r6(col("v2")).as("v2_r6"),
        r6(col("v3") / col("v2")).as("eig_ratio"))
      .orderBy(col("dim"))
  }

  val qPcaPowerSql: String =
    """WITH x AS (SELECT vec_id, i - 1 AS i, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS xi
      |           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
      |g AS (SELECT a.i AS i, b.i AS j,
      |        ROUND(CAST(SUM(CAST(a.xi * b.xi AS DECIMAL(28,14))) AS DOUBLE), 6) AS gram
      |      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2),
      |full_g AS (SELECT i, j, gram FROM g
      |           UNION ALL SELECT j AS i, i AS j, gram FROM g WHERE i < j),
      |v1 AS (SELECT j AS dim, CAST(SUM(CAST(gram AS DECIMAL(20,6))) AS DOUBLE) AS v1
      |       FROM full_g GROUP BY 1),
      |v2 AS (SELECT f.j AS dim, CAST(SUM(CAST(f.gram * v1.v1 AS DECIMAL(28,14))) AS DOUBLE) AS v2
      |       FROM full_g f JOIN v1 ON v1.dim = f.i GROUP BY 1),
      |v3 AS (SELECT f.j AS dim, CAST(SUM(CAST(f.gram * v2.v2 AS DECIMAL(28,14))) AS DOUBLE) AS v3
      |       FROM full_g f JOIN v2 ON v2.dim = f.i GROUP BY 1)
      |SELECT v1.dim AS dim, v1.v1, ROUND(v2.v2, 6) AS v2_r6, ROUND(v3.v3 / v2.v2, 6) AS eig_ratio
      |FROM v1 JOIN v2 ON v1.dim = v2.dim JOIN v3 ON v1.dim = v3.dim
      |ORDER BY v1.dim""".stripMargin

  // ------------------------------------------------------- k-means step --

  /** One Lloyd iteration (Lloyd 1982) with deterministic init (centroids =
    * the k=8 lowest vec_ids): assign every vector to its nearest centroid
    * under exact decimal-accumulated squared distance (per-term (x-y)² in
    * double — engine-identical — then DECIMAL(28,14) sum, the Ann
    * exactArith algebra), argmin tie-broken by centroid id, then report
    * per-cluster size, exact mean of dim 0 (the new-centroid algebra), and
    * mean assignment distance. Spark shape: the k×d centroid table is
    * BROADCAST (8 rows), assignment is a narrow map over the corpus — the
    * only shuffle is the k-key final groupBy. That plan is exactly the
    * 100 TB shape: Lloyd scales because the shuffle carries k rows per
    * partition, never the corpus.
    */
  def qKmeansStep(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val dist = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", expr(
        """aggregate(zip_with(embedding, ce, (x, y) ->
          |    CAST((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
          |       * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) AS DECIMAL(28,14))),
          |  CAST(0 AS DECIMAL(28,14)), (acc, v) -> CAST(acc + v AS DECIMAL(28,14)))""".stripMargin))
    val assigned = dist
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))))
      .filter(col("rn") === 1)
    assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        r6(dMean14(expr("embedding[0]"))).as("mean_dim0"),
        r6(sum(col("dist")).cast("double") / count(lit(1))).as("mean_dist"))
  }

  val qKmeansStepSql: String =
    """WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
      |d AS (SELECT v.vec_id, c.cid,
      |        SUM(CAST((CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.ce[CAST(i AS INT)] AS DOUBLE))
      |               * (CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.ce[CAST(i AS INT)] AS DOUBLE))
      |            AS DECIMAL(28,14))) AS dist
      |      FROM embeddings v, c, UNNEST(range(1, len(v.embedding) + 1)) AS u(i)
      |      GROUP BY 1, 2),
      |a AS (SELECT vec_id, cid, dist,
      |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d)
      |SELECT a.cid, COUNT(*) AS n_members,
      |  ROUND(CAST(SUM(CAST(CAST(e.embedding[1] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*), 6) AS mean_dim0,
      |  ROUND(CAST(SUM(a.dist) AS DOUBLE) / COUNT(*), 6) AS mean_dist
      |FROM a JOIN embeddings e USING (vec_id) WHERE a.rn = 1
      |GROUP BY a.cid""".stripMargin

  // ------------------------------------------------------------ coreset --

  /** Greedy k-center coreset selection (farthest-point traversal, the
    * 2-approximation of Gonzalez 1985) — the data-SELECTION primitive a
    * training pipeline runs to pick a maximally-diverse seed subset (or
    * dedup anchors) from an embedding corpus: start from the min-id
    * vector, then k−1 times add the point FARTHEST from the current
    * selection (max over points of min over centers). The distributed
    * part is declarative per round — a broadcast of the O(k) selected
    * centers, the codegen'd exact-decimal sqdist kernel, and a
    * map-side-combinable per-point min + global top-1 — and only the
    * 1-row argmax result touches the driver each round (the qBpeMerges
    * control-plane discipline; state is O(k) ids, never data). The gate
    * hashes the whole greedy trajectory: pick order, pick ids, each
    * pick's distance-at-selection (the decreasing radius sequence), and
    * the final coverage radius — a tie-break or pruning bug anywhere in
    * the k rounds breaks the row hash. Oracle: the same greedy unrolled
    * as chained CTEs with the identical decimal arithmetic and
    * (dist DESC, vec_id) tie order.
    *
    * COST BOUND — read before raising k: the greedy loop is inherently
    * k−1 sequential corpus passes (each pick depends on all previous
    * picks), so total work is O(k · n · dim) with k round-trips of
    * driver latency. k=8 here; at k in the hundreds this is still fine
    * on a cluster (each pass is one broadcast + one map-side-combinable
    * aggregate), but do NOT run k=10,000 naively — the standard
    * mitigations are (a) pre-sample the corpus (Gonzalez on an s-point
    * uniform sample keeps the 2-approx up to sampling error), or
    * (b) composable coresets: partition the corpus, run k-center per
    * partition in one distributed pass, then run the greedy on the
    * union of the per-partition centers (driver- or single-task-sized).
    * Both reduce the sequential depth from k corpus scans to one corpus
    * scan plus a small-data greedy.
    */
  def qCoreset(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val k = 8
    graft.ops.Lineage.pinned(Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))) { e =>
      // INCREMENTAL farthest-point traversal (r15 optimization, guide §1.2
      // "the distributed algorithm"): min-dist-to-selection is maintained as
      // a running column — round t folds ONLY the newest center in with
      // least(md, decimal_sqdist(embedding, ce_t)) — instead of re-running
      // a crossJoin over all t selected centers. Total kernel evals drop
      // from O(k²·n/2) to O(k·n) (the classic incremental form of Gonzalez
      // 1985), and each round is one narrow scan + TakeOrdered instead of
      // broadcast + crossJoin + hash aggregate + sort. Exactness is
      // unchanged: least() of the same DECIMAL(28,14) kernel values is the
      // same min the aggregate computed (min is associative; least skips
      // NULLs exactly as the min aggregate does), the pick order
      // (md DESC, vec_id) and the per-pick distance-at-selection are
      // bit-identical, and the final coverage radius is the fully-folded
      // md's max — the oracle's unrolled CTE chain gates all of it.
      val seed = e.agg(min(col("vec_id"))).collect()(0).getLong(0)
      val seedEmb = e.filter(col("vec_id") === seed)
        .select(col("embedding")).collect()(0).getSeq[Float](0)
      var sel = Vector[Long](seed)
      val picks = Seq.newBuilder[org.apache.spark.sql.Row]
      picks += org.apache.spark.sql.Row(0, java.lang.Long.valueOf(seed), null)
      // bind ce as a literal column (k·dim control-plane bytes, the Lloyd
      // discipline — never a data-path collect)
      def withCe(df: DataFrame, ce: Seq[Float]): DataFrame =
        df.withColumn("ce", typedLit(ce))
      // round t pins md_t; md_{t+1} materializes at the next round's
      // collect by reading md_t's blocks, so the pins nest: the k
      // corpus-sized generations are released together when the last
      // round returns (same jobs as one pin per round, k× the storage)
      def round(md: DataFrame, t: Int): java.math.BigDecimal =
        graft.ops.Lineage.pinned(md) { md =>
          if (t == k) md.agg(max(col("md")).as("md")).collect()(0).getDecimal(0)
          else {
            val row = md.filter(!col("vec_id").isin(sel: _*))
              .orderBy(col("md").desc, col("vec_id"))
              .select(col("vec_id"), col("md"), col("embedding"))
              .limit(1).collect()(0)
            val id = row.getLong(0)
            sel = sel :+ id
            picks += org.apache.spark.sql.Row(t, java.lang.Long.valueOf(id), row.getDecimal(1))
            round(withCe(md, row.getSeq[Float](2))
              .select(col("vec_id"), col("embedding"),
                least(col("md"), expr("decimal_sqdist(embedding, ce)")).as("md")), t + 1)
          }
        }
      val cov = round(withCe(e, seedEmb)
        .select(col("vec_id"), col("embedding"),
          expr("decimal_sqdist(embedding, ce)").as("md")), 1)
      picks += org.apache.spark.sql.Row(k, null, cov)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ord",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("md",
          org.apache.spark.sql.types.DecimalType(28, 14), nullable = true)))
      // the exact decimal rides into the frame; the ONLY rounding is the
      // same r6(double) both engines apply to identical decimal operands
      s.createDataFrame(new java.util.ArrayList(
          scala.jdk.CollectionConverters.SeqHasAsJava(picks.result()).asJava), schema)
        .select(col("ord"), col("vec_id"),
          r6(col("md").cast("double")).as("radius_sq"))
    }
  }

  val qCoresetSql: String = {
    val dist =
      """SUM(CAST((CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.ce[CAST(i AS INT)] AS DOUBLE))
        |       * (CAST(v.embedding[CAST(i AS INT)] AS DOUBLE) - CAST(c.ce[CAST(i AS INT)] AS DOUBLE))
        |    AS DECIMAL(28,14)))""".stripMargin
    val rounds = (1 to 7).map { t =>
      s"""c$t AS MATERIALIZED (SELECT e.embedding AS ce FROM embeddings e JOIN sel${t - 1} s ON e.vec_id = s.cid),
         |d$t AS MATERIALIZED (SELECT dd.vec_id, MIN(dd.dist) AS md FROM (
         |          SELECT v.vec_id, $dist AS dist
         |          FROM embeddings v, c$t c, UNNEST(range(1, len(v.embedding) + 1)) AS u(i)
         |          WHERE v.vec_id NOT IN (SELECT cid FROM sel${t - 1})
         |          GROUP BY v.vec_id, c.ce) AS dd
         |        GROUP BY 1),
         |p$t AS MATERIALIZED (SELECT CAST($t AS INT) AS ord, vec_id, md FROM d$t
         |        ORDER BY md DESC, vec_id LIMIT 1),
         |sel$t AS MATERIALIZED (SELECT cid FROM sel${t - 1} UNION ALL SELECT vec_id FROM p$t)"""
        .stripMargin
    }
    s"""WITH sel0 AS MATERIALIZED (SELECT MIN(vec_id) AS cid FROM embeddings),
       |${rounds.mkString(",\n")},
       |cfin AS MATERIALIZED (SELECT e.embedding AS ce FROM embeddings e JOIN sel7 s ON e.vec_id = s.cid),
       |dfin AS MATERIALIZED (SELECT v.vec_id, $dist AS dist
       |         FROM embeddings v, cfin c, UNNEST(range(1, len(v.embedding) + 1)) AS u(i)
       |         GROUP BY v.vec_id, c.ce),
       |cov AS MATERIALIZED (SELECT CAST(8 AS INT) AS ord, CAST(NULL AS BIGINT) AS vec_id,
       |          MAX(md) AS md
       |        FROM (SELECT vec_id, MIN(dist) AS md FROM dfin GROUP BY 1) AS pm),
       |outp AS (
       |  SELECT CAST(0 AS INT) AS ord, cid AS vec_id, CAST(NULL AS DECIMAL(38,14)) AS md FROM sel0
       |  ${(1 to 7).map(t => s"UNION ALL SELECT ord, vec_id, md FROM p$t").mkString("\n  ")}
       |  UNION ALL SELECT ord, vec_id, md FROM cov)
       |SELECT ord, vec_id, ROUND(CAST(md AS DOUBLE), 6) AS radius_sq FROM outp""".stripMargin
  }

  // ---------------------------------------------------- unigram LM (Kudo) --

  /** Unigram-LM subword segmentation (Kudo ACL 2018 — the SentencePiece
    * algorithm, the OTHER major tokenizer family next to BPE): score every
    * candidate piece by its corpus log-probability, then Viterbi-segment
    * each word into the maximum-likelihood piece sequence — the E-step of
    * the hard-EM iteration SentencePiece runs (the M-step is one groupBy
    * over the emitted segmentations). Candidate vocabulary: all substrings
    * of length 1–4 with occurrence-weighted corpus count >= 500, plus all
    * single characters (closure: every word stays segmentable). The
    * lattice is exact: piece log-prob LN(pc) − LN(total) is an
    * integer-LN double cast once to DECIMAL(28,14) (the q_perplexity
    * recipe), path scores accumulate decimally with a per-step cast, and
    * ties break on the lexicographically-first path string — so the WHOLE
    * Viterbi trajectory (segmentation, piece count, score) is
    * hash-gated per word, and the oracle replays all 12 DP rounds in
    * chained CTEs.
    * Scale: ONE corpus scan builds the word-frequency table (map-side
    * combinable); everything after — candidate counts, the lattice, all
    * 12 bounded DP rounds (window per word over <= 4 incoming edges) — is
    * vocabulary-sized, exactly how SentencePiece training shards at
    * 100 TB: corpus pass for counts, vocab-sized EM. The only broadcast
    * is the 1-row piece-mass total. Words longer than 12 chars are
    * excluded in both engines (the DP unroll bound; raise it with the
    * loop literal).
    */
  /** The shared unigram-LM pipeline (candidate pieces + Viterbi
    * segmentations) — one implementation for q_unigram_lm (the E-step
    * view) and q_unigram_refit (the M-step view), so the two can never
    * drift apart. Returns (pieces, seg) where seg has one row per word:
    * (w, cnt, seg, sc).
    *
    * MEMOIZED per (session, sf dir): the 12-round lattice DP is eager
    * (each round Lineage.truncates), so a second caller in the same sweep
    * — q_unigram_refit after q_unigram_lm — would rebuild and re-cache
    * the whole pipeline for nothing. Both returned frames are vocab-sized
    * and lineage-truncated, and the corpus-sized intermediates (wf,
    * edges) are released before return, so the memo holds kilobytes,
    * not the lattice.
    */
  private val unigramMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (DataFrame, DataFrame)]()

  /** Drop memoized lattices. Bench calls this alongside clearCache before
    * EVERY timed sample: the memo otherwise defeats the best-of-N protocol
    * — only the first sample builds the lattice, so the published min is a
    * memo hit (~0.03 s) instead of the query's real cost (~4.7 s), a ~150×
    * understatement (r12 advice item, medium). Correctness sweeps (Verify)
    * keep the memo across queries — there the sharing between q_unigram_lm
    * and q_unigram_refit is the point, and nothing is being timed.
    */
  def clearMemo(): Unit = unigramMemo.clear()

  private def unigramPipeline(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // memo key includes the corpus file's (mtime, size): a regenerated
    // documents.parquet within one session must rebuild, not serve stale
    val p = new org.apache.hadoop.fs.Path(dir, "documents.parquet")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val stamp =
      if (fs.exists(p)) { val st = fs.getFileStatus(p); s"${st.getModificationTime}:${st.getLen}" }
      else "absent"
    unigramMemo.computeIfAbsent((s, s"$dir@$stamp"), _ => unigramBuild(s, dir))
  }

  private def unigramBuild(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val wf = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= 12)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    unigramFromWf(wf, minCount = 500)
  }

  /** The unigram-LM lattice pipeline over an arbitrary word-frequency
    * frame (w, cnt) — parameterized so the hostile-corpus gate
    * (HostileCorpusQueries) runs the SAME Viterbi DP over planted
    * degenerate words (UTF-8 4-byte pieces, all-same-char runs, score
    * ties) with its own piece-count floor. Words longer than 12 chars are
    * excluded (the DP bound, matching the oracle's 12-round CTE unroll).
    *
    * The Viterbi DP runs as ONE per-word expression (r15 optimization,
    * guide §1.2 "the distributed algorithm" + §2.4 "remove shuffles
    * outright"): a word's lattice depends only on that word's own edges,
    * so after grouping the scored edges by word the whole 12-step DP is a
    * bounded fold (`aggregate` over positions 1..len(w), each step
    * reducing ≤4 incoming edges) evaluated per row — no per-round
    * distributed join/window/localCheckpoint. The previous spelling ran
    * 12 EAGER rounds (join + window + localCheckpoint each), i.e. 12
    * driver-sequential jobs whose fixed cost dominated at every scale —
    * the hostile-corpus gate paid ~4.9 s for 7 words. Step algebra is
    * IDENTICAL to the round spelling the oracle unrolls: per-step
    * `CAST(prev.sc + lp AS DECIMAL(28,14))` accumulation, and per-node
    * best by (sc DESC, path ASC) — the reduce keeps the incumbent unless
    * the candidate is strictly better, which is exactly row_number = 1
    * under that order. A node with no reachable predecessor contributes
    * no candidate (the IS NOT NULL guard mirrors the old inner join on
    * b.j = e.src).
    */
  private[queries] def unigramFromWf(wf0: DataFrame, minCount: Long)
      : (DataFrame, DataFrame) = {
    // wf (vocab-sized) feeds candidates, the lattice and the final join;
    // both outputs are truncated before the pin is released
    graft.ops.Lineage.pinned(wf0)(wf => unigramLattice(wf, minCount))
  }

  private def unigramLattice(wf: DataFrame, minCount: Long): (DataFrame, DataFrame) = {
    val maxLen = 12
    val occ = wf.select(col("cnt"), explode(expr(
        """flatten(transform(sequence(1, length(w)), i ->
          |  transform(sequence(1, least(4, length(w) - i + 1)),
          |            l -> substring(w, i, l))))""".stripMargin)).as("piece"))
    val pieces = occ.groupBy(col("piece")).agg(sum(col("cnt")).as("pc"))
      .filter(col("pc") >= minCount || length(col("piece")) === 1)
    val tot = pieces.agg(sum(col("pc")).as("tot"))
    val plp = pieces.crossJoin(broadcast(tot))
      .select(col("piece"), expr(
        """CAST(CAST(LN(CAST(pc AS DOUBLE)) - LN(CAST(tot AS DOUBLE)) AS DOUBLE)
          |  AS DECIMAL(28,14))""".stripMargin).as("lp"))
    val edges = wf.select(col("w"), explode(expr(
        """flatten(transform(sequence(1, length(w)), j ->
          |  transform(sequence(1, least(4, j)), l ->
          |    struct(j - l AS src, j AS dst, substring(w, j - l + 1, l) AS piece))))""".stripMargin))
        .as("e"))
      .select(col("w"), col("e.src").as("src"), col("e.dst").as("dst"), col("e.piece").as("piece"))
      .join(plp, Seq("piece"))
    // one row per word: that word's scored lattice edges
    val wordEdges = edges
      .filter(length(col("w")) <= maxLen) // the DP bound (was: rounds 1..12)
      .groupBy(col("w"))
      .agg(collect_list(struct(col("src"), col("dst"), col("piece"), col("lp"))).as("es"))
    // the fold: acc(j+1) = best (sc DESC, path ASC) over incoming edges'
    // struct(CAST(acc(src).sc + lp AS DECIMAL(28,14)), acc(src).path|piece)
    val best = wordEdges.select(col("w"), expr(
      """aggregate(
        |  sequence(1, length(w)),
        |  array(named_struct('sc', CAST(0 AS DECIMAL(28,14)), 'path', '')),
        |  (acc, j) -> array_append(acc,
        |    aggregate(
        |      transform(
        |        filter(es, e -> e.dst = j AND element_at(acc, e.src + 1) IS NOT NULL),
        |        e -> named_struct(
        |          'sc', CAST(element_at(acc, e.src + 1).sc + e.lp AS DECIMAL(28,14)),
        |          'path', concat(element_at(acc, e.src + 1).path, '|', e.piece))),
        |      CAST(NULL AS STRUCT<sc: DECIMAL(28,14), path: STRING>),
        |      (m, c) -> CASE WHEN m IS NULL THEN c
        |                     WHEN c.sc > m.sc THEN c
        |                     WHEN c.sc = m.sc AND c.path < m.path THEN c
        |                     ELSE m END)),
        |  acc -> element_at(acc, length(w) + 1))""".stripMargin).as("b"))
      .filter(col("b").isNotNull)
      .select(col("w"), col("b.sc").as("sc"), col("b.path").as("path"))
    // materialize the two vocab-sized outputs while wf is still pinned:
    // nothing downstream re-reads the corpus, and a full-registry sweep
    // does not hold the lattice pipeline's input for the session lifetime
    val segM = graft.ops.Lineage.truncate(wf.join(best, Seq("w"))
      .select(col("w"), col("cnt"), expr("substring(path, 2)").as("seg"), col("sc")))
    (graft.ops.Lineage.truncate(pieces), segM)
  }

  def qUnigramLm(s: SparkSession, dir: String): DataFrame = {
    val (_, seg) = unigramPipeline(s, dir)
    seg.select(col("w").as("word"), col("cnt"), col("seg"),
      size(split(col("seg"), "\\|")).cast("long").as("n_pieces"),
      r6(col("sc").cast("double")).as("score"))
  }

  /** The unigram-LM M-step (the other half of q_unigram_lm's hard-EM
    * iteration, and SentencePiece's prune signal): re-count every piece
    * from the Viterbi segmentations, weighted by word frequency. Pieces
    * whose re-estimated count is zero are exactly the ones an EM round
    * prunes from the vocabulary (keep = false); the survivors' new counts
    * are the next round's LM numerators. Exact BIGINT counts; shares the
    * whole lattice pipeline with q_unigram_lm via one helper so search
    * and refit cannot drift apart (the q_ivf_pq/q_ivf_pq_recall
    * discipline). Scale: the refit is one explode + groupBy over the
    * vocab-sized segmentation table.
    */
  def qUnigramRefit(s: SparkSession, dir: String): DataFrame = {
    val (pieces, seg) = unigramPipeline(s, dir)
    val newc = seg.select(col("cnt"), explode(split(col("seg"), "\\|")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("new_cnt"))
    pieces.join(newc, Seq("piece"), "left")
      .select(col("piece"), col("pc").as("old_cnt"),
        coalesce(col("new_cnt"), lit(0L)).as("new_cnt"),
        (coalesce(col("new_cnt"), lit(0L)) > 0).as("keep"))
  }

  /** The oracle-side twin of [[unigramFromWf]]: the full lattice CTE chain
    * over a caller-supplied `wf` relation body (must yield columns w, cnt;
    * the caller owns the len(w) <= 12 exclusion) and piece-count floor —
    * one generator for both the documents oracle and the hostile-corpus
    * gate's planted word set.
    */
  private[queries] def unigramCtesFor(wfBody: String, minCount: Long): String = {
    // every round CTE is MATERIALIZED: ball_j references ball_{j-1} twice
    // (directly and through b_j), so DuckDB's default CTE inlining would
    // expand the lattice pipeline 2^12 times — the oracle-side twin of the
    // Lineage.truncate the Spark loop needs
    val rounds = (1 to 12).map { j =>
      s"""c$j AS MATERIALIZED (SELECT e.w, CAST(b.sc + e.lp AS DECIMAL(28,14)) AS sc,
         |          b.path || '|' || e.piece AS path
         |        FROM edges e JOIN ball${j - 1} b ON b.w = e.w AND b.j = e.src
         |        WHERE e.dst = $j),
         |b$j AS MATERIALIZED (SELECT w, $j AS j, sc, path FROM (
         |          SELECT w, sc, path,
         |            ROW_NUMBER() OVER (PARTITION BY w ORDER BY sc DESC, path) AS rn
         |          FROM c$j) t WHERE rn = 1),
         |ball$j AS MATERIALIZED (SELECT * FROM ball${j - 1} UNION ALL SELECT * FROM b$j)""".stripMargin
    }.mkString(",\n")
    s"""WITH wf AS MATERIALIZED (
       |$wfBody),
       |occ AS (
       |  SELECT substring(w, CAST(i AS INT), CAST(l AS INT)) AS piece, cnt
       |  FROM wf, UNNEST(range(1, len(w) + 1)) AS u(i), UNNEST(range(1, 5)) AS v(l)
       |  WHERE i + l - 1 <= len(w)),
       |pieces AS (
       |  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS pc FROM occ GROUP BY piece
       |  HAVING SUM(cnt) >= $minCount OR len(piece) = 1),
       |tt AS (SELECT CAST(SUM(pc) AS BIGINT) AS tot FROM pieces),
       |plp AS (SELECT piece,
       |          CAST(CAST(LN(CAST(pc AS DOUBLE)) - LN(CAST(tot AS DOUBLE)) AS DOUBLE)
       |            AS DECIMAL(28,14)) AS lp
       |        FROM pieces, tt),
       |edges AS MATERIALIZED (
       |  SELECT e0.w, e0.j - e0.l AS src, e0.j AS dst, e0.piece, plp.lp
       |  FROM (SELECT w, j, l,
       |          substring(w, CAST(j - l + 1 AS INT), CAST(l AS INT)) AS piece
       |        FROM wf, UNNEST(range(1, len(w) + 1)) AS u(j), UNNEST(range(1, 5)) AS v(l)
       |        WHERE l <= j) e0
       |  JOIN plp ON plp.piece = e0.piece),
       |ball0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS j, CAST(0 AS DECIMAL(28,14)) AS sc,
       |                 '' AS path FROM wf),
       |$rounds""".stripMargin
  }

  private val unigramCtes: String = unigramCtesFor(
    """  SELECT w, COUNT(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |  WHERE w <> '' AND len(w) <= 12 GROUP BY w""".stripMargin,
    minCount = 500)

  val qUnigramLmSql: String =
    unigramCtes + """
      |SELECT wf.w AS word, wf.cnt AS cnt, substring(b.path, 2) AS seg,
      |  CAST(len(string_split(substring(b.path, 2), '|')) AS BIGINT) AS n_pieces,
      |  ROUND(CAST(b.sc AS DOUBLE), 6) AS score
      |FROM wf JOIN ball12 b ON b.w = wf.w AND b.j = len(wf.w)""".stripMargin

  val qUnigramRefitSql: String =
    unigramCtes + """,
      |segt AS (SELECT wf.w, wf.cnt, substring(b.path, 2) AS seg
      |         FROM wf JOIN ball12 b ON b.w = wf.w AND b.j = len(wf.w)),
      |newc AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS new_cnt
      |         FROM (SELECT unnest(string_split(seg, '|')) AS piece, cnt FROM segt) t
      |         GROUP BY piece)
      |SELECT p.piece, p.pc AS old_cnt, COALESCE(n.new_cnt, 0) AS new_cnt,
      |  COALESCE(n.new_cnt, 0) > 0 AS keep
      |FROM pieces p LEFT JOIN newc n ON n.piece = p.piece""".stripMargin

  // ------------------------------------------------------------ registry --

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_bpe_merges" -> ((qBpeMerges _, Some(qBpeMergesSql))),
    "q_bpe_encode" -> ((qBpeEncode _, Some(qBpeEncodeSql))),
    "q_kneser_ney" -> ((qKneserNey _, Some(qKneserNeySql))),
    "q_gram_matrix" -> ((qGramMatrix _, Some(qGramMatrixSql))),
    "q_pca_power" -> ((qPcaPower _, Some(qPcaPowerSql))),
    "q_kmeans_step" -> ((qKmeansStep _, Some(qKmeansStepSql))),
    "q_coreset" -> ((qCoreset _, Some(qCoresetSql))),
    "q_unigram_lm" -> ((qUnigramLm _, Some(qUnigramLmSql))),
    "q_unigram_refit" -> ((qUnigramRefit _, Some(qUnigramRefitSql)))
  )
}
