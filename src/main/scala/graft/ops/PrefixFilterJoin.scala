package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join via prefix filtering — the AllPairs /
  * SSJoin family (Bayardo et al., WWW'07; Chaudhuri et al., ICDE'06).
  *
  * Finds EVERY pair of records whose token-set Jaccard similarity meets a
  * threshold t, without the all-pairs product and without the recall loss
  * of the df-cap blocking used by the n-gram query
  * ([[graft.queries.SimilarityQueries]]): prefix filtering is a PRUNING,
  * not an approximation — its output is bit-identical to brute force
  * (PrefixFilterJoinSpec proves this differentially on the real corpus).
  *
  * The filter: order all tokens globally by (document frequency asc,
  * token asc) and keep from each record only its first
  * p = n − ⌈t·n⌉ + 1 tokens in that order (its RAREST tokens). If
  * J(A,B) ≥ t then |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and a pigeonhole argument
  * over the shared global order shows the two prefixes must share a
  * token — so the equi-join on prefix tokens loses no qualifying pair.
  * Candidates additionally pass the length filter
  * tDen·min(|A|,|B|) ≥ tNum·max (implied by J ≥ t), then exact
  * verification counts the true intersection.
  *
  * 100 TB posture: the df table is vocabulary-sized (broadcast here; a
  * token-keyed shuffle join at web scale); the per-record prefix selection
  * is a window partitioned by record (bounded by record length, never
  * global); the candidate producer is an equi-join on prefix tokens whose
  * fan-out is bounded because prefixes hold each record's rarest tokens —
  * exactly the frequent-token pair explosion the global ordering exists to
  * avoid. The threshold is a rational tNum/tDen and every pruning
  * comparison is integer cross-multiplication, so no float boundary can
  * disagree between engines or between this and its oracle.
  */
object PrefixFilterJoin {

  /** All pairs with Jaccard(token sets) ≥ tNum/tDen.
    *
    * @param postings DISTINCT (id, token) pairs — dedupe upstream
    * @return (id_a, id_b, n_a, n_b, inter) with id_a < id_b; Jaccard is
    *         inter / (n_a + n_b − inter), left to the caller to emit
    */
  def jaccardSelfJoin(
      postings: DataFrame,
      idCol: String,
      tokCol: String,
      tNum: Int,
      tDen: Int): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, s"threshold $tNum/$tDen not in (0,1]")
    val id = col(idCol); val tok = col(tokCol)
    // the postings feed four consumers (sizes, df, ranking, verify×2);
    // without a pin each re-runs the upstream tokenization/shingling
    val p = Lineage.truncate(postings)
    val sizes = p.groupBy(id).agg(count(lit(1)).as("__n"))
    val dfTab = p.groupBy(tok).agg(count(lit(1)).as("__df"))
    val ranked = p
      .join(broadcast(dfTab), Seq(tokCol))
      .join(sizes, Seq(idCol))
      .withColumn("__pos",
        row_number().over(Window.partitionBy(id).orderBy(col("__df"), tok)))
    // p = n − ⌈t·n⌉ + 1; ⌈tNum·n/tDen⌉ = (tNum·n + tDen − 1) DIV tDen
    val prefix = ranked.filter(col("__pos") <=
      col("__n") - expr(s"(${tNum}L * __n + ${tDen - 1}) DIV $tDen") + 1)
    val a = prefix.select(id.as("id_a"), tok.as("__tok"), col("__n").as("n_a"))
    val b = prefix.select(id.as("id_b"), tok.as("__tok"), col("__n").as("n_b"))
    val cand = a.join(b, Seq("__tok"))
      .filter(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")) * tDen >= greatest(col("n_a"), col("n_b")) * tNum)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .distinct()
    // Verification by array intersection, not a postings re-join: joining
    // candidates back to the postings multiplies every candidate pair by
    // its record length before the count (|cand|·avg_len shuffle rows —
    // ~50× the candidate count on this corpus). Materializing each
    // record's token set ONCE and intersecting per pair keeps the verify
    // stage at |cand| rows; the per-pair intersect is bounded by record
    // length, and postings are distinct so array_intersect counts set
    // intersection exactly.
    // NO broadcast hint on docArr: it is CORPUS-sized (every record's full
    // token array) — forcing a broadcast would ship the whole corpus to
    // every executor, which caps the operator at driver memory. Unhinted,
    // AQE broadcasts it when it happens to be small (this corpus) and
    // shuffle-joins on the id key when it isn't (100 TB) — the only shape
    // that scales, since candidates and arrays co-partition by id.
    val docArr = p.groupBy(id).agg(collect_list(tok).as("__toks"))
    cand
      .join(docArr.select(id.as("id_a"), col("__toks").as("__ta")), Seq("id_a"))
      .join(docArr.select(id.as("id_b"), col("__toks").as("__tb")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .filter(col("inter") * tDen >= (col("n_a") + col("n_b") - col("inter")) * tNum)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"), col("inter"))
  }
}
