package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import Exact._

/** Near-duplicate detection and similarity search — the north-star
  * training-data operators (SURVEY.md §2.9 R14, §4.2(c)).
  *
  * Everything here is built from codegen'd expressions + joins; no UDFs, no
  * all-pairs products. The LSH parameters are deterministic (md5-derived),
  * so the DuckDB oracle replicates candidate generation EXACTLY — the gate
  * checks the whole pipeline (shingle → signature → banding → verify), not
  * just the final filter.
  *
  * 100 TB posture: every pair-producer is an equi-join on a bucket key
  * (band key, simhash chunk, shared shingle), never a cross join. Hot
  * buckets are the known risk (degenerate shingles); production would salt
  * or cap bucket width — at the verify scale the data has no hot buckets.
  */
object SimilarityQueries {

  /** tokens of documents.text (single-space corpus). */
  private def toks = split(col("text"), " ")

  /** Distinct word-3-shingles per doc: (doc_id, shingle). Shared by the
    * MinHash and n-gram queries. Docs with <3 tokens drop out (none at any
    * sf, but the guard keeps sequence() from reversing). Parameterized on
    * the docs frame so the hostile-corpus gate
    * (HostileCorpusQueries) runs the SAME shingling code over its
    * degenerate slice — one source of truth, no drift.
    *
    * `nfc = true` unicode-normalizes the text (codegen'd
    * [[graft.functions.UnicodeNormalize]]) BEFORE tokenizing, so composed
    * and decomposed spellings of the same rendered text shingle
    * identically (q_shingle_nfc gates this end-to-end through the LSH
    * banding). Raw bytes stay the default — same contract note as
    * [[graft.ops.DedupState]].
    */
  private[queries] def shinglesOf(docs: DataFrame, nfc: Boolean = false): DataFrame = {
    if (nfc) graft.functions.GraftFunctions.register(docs.sparkSession)
    val src =
      if (nfc) docs.withColumn("text",
        call_function("unicode_normalize", col("text"), lit("NFC")))
      else docs
    src
      .filter(size(toks) >= 3)
      // tokenize ONCE into tk; referencing split() inside the transform
      // lambda would re-split the whole text per element (3 × n_tokens
      // full splits per doc)
      .withColumn("tk", toks)
      .select(col("doc_id"), explode(array_distinct(ngrams("tk", 3))).as("shingle"))
  }

  private def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.documents(s, dir))

  /** MinHash + LSH near-dup pairs with exact Jaccard verification.
    *
    * Signature: 8 hashes = min(md5('<i>:' || shingle)) for i in 0..7 —
    * md5 hex is lexicographically ordered, so `min` over strings is a valid
    * permutation-min. Banding: 4 bands × 2 rows; band key = concat of the
    * band's 2 minhashes. Candidates = docs sharing any band key (equi-join
    * on the band bucket — never all-pairs). Verification = exact Jaccard on
    * the shingle sets, threshold 0.8.
    *
    * Scale: one shuffle to build signatures (8 min-aggs in one groupBy),
    * one equi-join on band keys, one broadcast-candidates semi-join to count
    * intersections. At 1000 executors each stage is embarrassingly
    * key-parallel; the planted near-dup pairs at jaccard≥0.98 are caught by
    * 2-row bands with P(miss) = (1-0.98²)⁴ ≈ 2.5e-6 per pair (shorter bands
    * = higher recall AND a third less hashing than 12/4×3; the mid-jaccard
    * false-positive cost those shorter bands invite is nil on this corpus's
    * 0.07↔0.98 gap) — and the oracle replicates the same banding, so even a
    * miss would match bit-for-bit.
    */
  def qMinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashPairs(Tables.documents(s, dir))

  /** The whole qMinhashLsh pipeline over an arbitrary (doc_id, text) frame
    * — shared with the hostile-corpus gate so degenerate documents exercise
    * the production banding code, not a copy.
    */
  private[queries] def minhashPairs(docs: DataFrame, nfc: Boolean = false): DataFrame =
    // pinned: shingles feed three consumers (signatures, intersection
    // counts ×2, sizes ×2) — materialize once instead of re-exploding the
    // corpus per consumer. At corpus scale this is the shingle TABLE.
    minhashPairsOfShingles(graft.ops.Lineage.truncate(shinglesOf(docs, nfc)))

  private val minhashHashes = 8

  /** MinHash signatures and LSH band candidates over a (doc_id, shingle)
    * table — the one definition q_minhash_lsh, q_minhash_est and
    * q_lsh_recall share. Signature: 8 hashes = min(md5('<i>:' || shingle));
    * banding: 4 bands × 2 rows, band key = concat of the band's minhashes;
    * candidates = distinct (doc_a < doc_b) pairs sharing any band key.
    * Returns (signatures (doc_id, h0..h7), candidates (doc_a, doc_b)). The
    * band self-join reads the signature aggregate from both sides through
    * one reused exchange, so the signatures are not pinned.
    */
  private[queries] def minhashCandidates(sh: DataFrame): (DataFrame, DataFrame) = {
    val rowsPerBand = 2
    val aggs = (0 until minhashHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("shingle")))).as(s"h$i"))
    val sig = sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val bandKeys = (0 until minhashHashes / rowsPerBand).map { b =>
      concat((0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)
    }
    val bands = sig.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
    val cand = bands.as("x").join(bands.as("y"), Seq("band", "bkey"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    (sig, cand)
  }

  /** The banding/verify pipeline from an already-built (and ideally
    * pinned) shingle table — callers that also consume the shingles
    * directly (the hostile-corpus gate's per-doc diag) pass ONE pinned
    * frame here instead of shingling the corpus twice.
    */
  private[queries] def minhashPairsOfShingles(sh: DataFrame): DataFrame = {
    val (_, cand) = minhashCandidates(sh)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // No broadcast hint on cand: the candidate-pair set grows with corpus
    // size × duplication rate, so a forced broadcast OOMs at scale. Plain
    // equi-join on doc_id; AQE broadcasts when cand is genuinely small.
    val inter = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("za.n_sh") + col("zb.n_sh") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** ONE DuckDB spelling of the whole MinHash-LSH replay (the
    * minhashPairs pipeline: word-3-shingles, 8 md5 permutation-mins,
    * 4 bands × 2 rows, exact-Jaccard verify at 0.8) as a CTE chain under
    * prefix `p`, shingling `textExpr` over docs relation `docsCte` —
    * shared by q_minhash_lsh and the hostile/NFC gates so a banding-
    * parameter change cannot silently fork the oracles. The final CTE is
    * `${p}pairs(doc_a, doc_b, jaccard)`.
    */
  private[queries] def duckMinhashCtes(p: String, docsCte: String, textExpr: String): String = {
    val hashes = (0 until 8).map(i =>
      s"min(md5('$i:' || shingle)) AS h$i").mkString(",\n       |  ")
    s"""${p}t AS (SELECT doc_id, string_split($textExpr, ' ') AS tk FROM $docsCte
       |          WHERE len(string_split($textExpr, ' ')) >= 3),
       |${p}sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
       |           FROM ${p}t, UNNEST(range(1, len(tk)-1)) AS u(i)),
       |${p}sig AS (SELECT doc_id,
       |  $hashes
       |  FROM ${p}sh GROUP BY doc_id),
       |${p}bands AS (
       |  SELECT doc_id, 0 AS band, h0||h1 AS bkey FROM ${p}sig UNION ALL
       |  SELECT doc_id, 1, h2||h3 FROM ${p}sig UNION ALL
       |  SELECT doc_id, 2, h4||h5 FROM ${p}sig UNION ALL
       |  SELECT doc_id, 3, h6||h7 FROM ${p}sig),
       |${p}cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |             FROM ${p}bands x JOIN ${p}bands y ON x.band = y.band AND x.bkey = y.bkey
       |             WHERE x.doc_id < y.doc_id),
       |${p}inter AS (SELECT doc_a, doc_b, count(*) AS inter
       |              FROM ${p}cand JOIN ${p}sh sa ON doc_a = sa.doc_id
       |              JOIN ${p}sh sb ON doc_b = sb.doc_id AND sa.shingle = sb.shingle
       |              GROUP BY doc_a, doc_b),
       |${p}sizes AS (SELECT doc_id, count(*) AS n_sh FROM ${p}sh GROUP BY doc_id),
       |${p}pairs AS (SELECT doc_a, doc_b,
       |                CAST(inter AS DOUBLE) / (za.n_sh + zb.n_sh - inter) AS jaccard
       |              FROM ${p}inter JOIN ${p}sizes za ON doc_a = za.doc_id
       |              JOIN ${p}sizes zb ON doc_b = zb.doc_id
       |              WHERE CAST(inter AS DOUBLE) / (za.n_sh + zb.n_sh - inter) >= 0.8)""".stripMargin
  }

  val qMinhashLshSql: String =
    s"""WITH ${duckMinhashCtes("", "documents", "text")}
       |SELECT doc_a, doc_b, jaccard FROM pairs""".stripMargin

  /** Near-duplicate CLUSTERS: the MinHash-LSH verified pairs (same
    * pipeline as q_minhash_lsh) fed through distributed connected
    * components, then per-cluster stats — the grouping step that turns
    * pairwise matches into "keep one canonical doc per duplicate set".
    * The oracle recomputes the identical pairs in SQL and resolves
    * components with a recursive CTE, so the gate covers the whole chain
    * shingle → signature → banding → verify → transitive closure.
    * Scale: see ops.ConnectedComponents — per-round one equi-join, edge
    * table shuffled once, rounds = cluster diameter (shallow for dedup).
    */
  def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = qMinhashLsh(s, dir).select(col("doc_a"), col("doc_b"))
    graft.ops.ConnectedComponents.run(pairs, "doc_a", "doc_b")
      .groupBy(col("component").as("cluster_rep"))
      .agg(count(lit(1)).as("n_docs"), max(col("node")).as("max_doc"))
  }

  // ONE source of truth for the pair pipeline: the q_minhash_lsh oracle is
  // embedded verbatim as the `pairs` CTE (DuckDB accepts the nested WITH),
  // so a banding/parameter change can never silently desynchronize the
  // two oracles.
  val qDedupClustersSql: String =
    s"""WITH RECURSIVE pairs AS (
      |$qMinhashLshSql),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs),""".stripMargin +
    """
      |reach(node, lbl) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
      |),
      |comp AS (SELECT node, MIN(lbl) AS cluster_rep FROM reach GROUP BY node)
      |SELECT cluster_rep, COUNT(*) AS n_docs, MAX(node) AS max_doc
      |FROM comp GROUP BY cluster_rep""".stripMargin

  /** Survivorship — the decision step that turns near-dup CLUSTERS into a
    * curation MANIFEST: within each connected component of the
    * q_minhash_lsh pair graph, keep exactly one canonical document (the
    * richest by n_chars, doc_id as the total-order tie-break) and mark
    * every other member dropped. This is the piece a production dedup
    * actually ships — q_dedup_clusters says which docs are together,
    * survivorship says which byte survives — and the keep-best-quality
    * rule (vs keep-first) is the difference between dedup that improves
    * and degrades a corpus. Scale: pointer-jumped components
    * (O(log diameter) rounds), one metadata join, and a window
    * PARTITIONED by cluster (cluster sizes are near-dup-bounded, never
    * corpus-sized). The oracle embeds the q_minhash_lsh SQL verbatim so
    * the pair pipeline cannot desynchronize.
    */
  def qSurvivorship(s: SparkSession, dir: String): DataFrame = {
    val pairs = qMinhashLsh(s, dir).select(col("doc_a"), col("doc_b"))
    val comp = graft.ops.ConnectedComponents.run(pairs, "doc_a", "doc_b")
    val meta = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"), col("lang"))
    val w = Window.partitionBy(col("component")).orderBy(col("n_chars").desc, col("doc_id"))
    comp.join(meta, col("node") === col("doc_id"))
      .withColumn("rk", row_number().over(w))
      .select(col("component").as("cluster_rep"), col("doc_id"), col("n_chars"),
        col("lang"), (col("rk") === 1).as("is_canonical"),
        when(col("rk") === 1, lit("keep")).otherwise(lit("drop_near_dup")).as("action"))
  }

  val qSurvivorshipSql: String =
    s"""WITH RECURSIVE pairs AS (
      |$qMinhashLshSql),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs),""".stripMargin +
    """
      |reach(node, lbl) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
      |),
      |comp AS (SELECT node, MIN(lbl) AS cluster_rep FROM reach GROUP BY node),
      |m AS (SELECT comp.cluster_rep, d.doc_id, d.n_chars, d.lang,
      |        ROW_NUMBER() OVER (PARTITION BY comp.cluster_rep
      |                           ORDER BY d.n_chars DESC, d.doc_id) AS rk
      |      FROM comp JOIN documents d ON comp.node = d.doc_id)
      |SELECT cluster_rep, doc_id, n_chars, lang, rk = 1 AS is_canonical,
      |  CASE WHEN rk = 1 THEN 'keep' ELSE 'drop_near_dup' END AS action
      |FROM m""".stripMargin

  /** Candidate document pairs from a df-capped inverted index: `keyed`
    * holds distinct (doc_id, `key`) rows; keys held by more than 50 docs
    * are dropped, and every pair (doc_a < doc_b) sharing at least
    * `minShared` of the remaining keys is returned as (doc_a, doc_b,
    * `sharedCol`), the shared-key count. A key in >50 docs contributes
    * ~df² pairs and no discriminative signal (shared-vocab noise) —
    * dropping it bounds the index fan-out, the standard rare-feature
    * blocking at corpus scale. Near-dup pairs share ~90 shingles, almost
    * all rare, so recall holds; each oracle applies the SAME cap, so the
    * gates stay bit-exact. An equi-join + count, never all-pairs.
    */
  private[queries] def sharedRareKeyPairs(keyed: DataFrame, key: String,
                                          sharedCol: String, minShared: Int): DataFrame = {
    val rare = keyed.groupBy(col(key)).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select(col(key))
    val blocked = keyed.join(rare, key)
    blocked.as("a")
      .join(blocked.as("b"),
        col(s"a.$key") === col(s"b.$key") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as(sharedCol))
      .filter(col(sharedCol) >= minShared)
  }

  /** Character-4-gram Jaccard near-dup: candidates from the word-shingle
    * inverted index (pairs sharing ≥5 distinct word-3-shingles — an
    * equi-join + count, not all-pairs), verified with char-4-gram Jaccard
    * ≥ 0.6. The two-granularity split (coarse candidates, fine verify) is
    * the standard cheap/accurate trade at corpus scale.
    */
  def qNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = graft.ops.Lineage.truncate(shingles(s, dir))
    val cand = sharedRareKeyPairs(sh, "shingle", "shared_shingles", minShared = 5)
      .select(col("doc_a"), col("doc_b"))
    val grams = graft.ops.Lineage.truncate(Tables.documents(s, dir)
      .filter(length(col("text")) >= 4)
      .select(col("doc_id"), explode(array_distinct(
        expr("transform(sequence(1, length(text)-3), i -> substring(text, i, 4))")))
        .as("gram")))
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_g"))
    // Corpus-dependent candidate set: no broadcast hint (see q_minhash_lsh).
    val inter = cand
      .join(grams.as("ga"), col("doc_a") === col("ga.doc_id"))
      .join(grams.as("gb"),
        col("doc_b") === col("gb.doc_id") && col("ga.gram") === col("gb.gram"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("za.n_g") + col("zb.n_g") - col("inter"))).as("char_jaccard"))
      .filter(col("char_jaccard") >= 0.6)
  }

  /** DIRECTIONAL set containment C(A→B) = |A∩B| / |A| over word-3-gram
    * shingle sets — the asymmetric sibling of Jaccard that catches what
    * resemblance metrics structurally miss: a short document wholly
    * quoted inside a much longer one has tiny Jaccard (the union is
    * dominated by the long doc) but containment ≈ 1. This is the
    * subset-duplication screen (quotes, boilerplate inclusion, chapter-
    * in-anthology) a dedup pipeline runs ALONGSIDE q_minhash_lsh /
    * q_ngram_jaccard. Candidate generation is the same df-capped
    * inverted-index blocking as qNgramJaccard (shared rare shingles ≥ 3 —
    * lower than Jaccard's 5 because the contained side may be small), the
    * oracle applies the identical rule CTE-for-CTE, and both directions
    * are emitted from one intersection count. The ≥-threshold is applied
    * to the ROUNDED ratio so the gate cannot straddle a boundary.
    * Scale: identical plan skeleton to qNgramJaccard — equi-joins only,
    * candidate set never broadcast, fan-out bounded by the df cap.
    * Cost class: ANSWER-PROPORTIONAL — growth law + measured anchors in
    * SCALE.md "Answer-proportional queries — sizing rules".
    */
  def qContainment(s: SparkSession, dir: String): DataFrame = {
    val sh = graft.ops.Lineage.truncate(shingles(s, dir))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val cand = sharedRareKeyPairs(sh, "shingle", "shared_rare", minShared = 3)
      .select(col("doc_a"), col("doc_b"))
    val inter = cand
      .join(sh.as("ga"), col("doc_a") === col("ga.doc_id"))
      .join(sh.as("gb"),
        col("doc_b") === col("gb.doc_id") && col("ga.shingle") === col("gb.shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .withColumn("cont_a_in_b", r6(col("inter").cast("double") / col("za.n")))
      .withColumn("cont_b_in_a", r6(col("inter").cast("double") / col("zb.n")))
      .filter(col("cont_a_in_b") >= 0.6 || col("cont_b_in_a") >= 0.6)
      .select(col("doc_a"), col("doc_b"), col("za.n").as("n_a"), col("zb.n").as("n_b"),
        col("inter"), col("cont_a_in_b"), col("cont_b_in_a"))
  }

  val qContainmentSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
      |       FROM t, UNNEST(range(1, len(tk)-1)) AS u(i)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50),
      |shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
      |cand AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b
      |         FROM shr sa JOIN shr sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
      |         GROUP BY 1, 2 HAVING count(*) >= 3),
      |inter AS (SELECT doc_a, doc_b, count(*) AS inter
      |          FROM cand JOIN sh ga ON doc_a = ga.doc_id
      |          JOIN sh gb ON doc_b = gb.doc_id AND ga.shingle = gb.shingle
      |          GROUP BY doc_a, doc_b),
      |sc AS (SELECT doc_a, doc_b, za.n AS n_a, zb.n AS n_b, inter,
      |         ROUND(CAST(inter AS DOUBLE) / za.n, 6) AS cont_a_in_b,
      |         ROUND(CAST(inter AS DOUBLE) / zb.n, 6) AS cont_b_in_a
      |       FROM inter JOIN sizes za ON doc_a = za.doc_id
      |       JOIN sizes zb ON doc_b = zb.doc_id)
      |SELECT * FROM sc WHERE cont_a_in_b >= 0.6 OR cont_b_in_a >= 0.6""".stripMargin

  val qNgramJaccardSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
      |       FROM t, UNNEST(range(1, len(tk)-1)) AS u(i)),
      |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50),
      |shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
      |cand AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b
      |         FROM shr sa JOIN shr sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
      |         GROUP BY 1, 2 HAVING count(*) >= 5),
      |grams AS (SELECT DISTINCT doc_id, substr(text, i, 4) AS gram
      |          FROM documents, UNNEST(range(1, length(text)-2)) AS u(i)
      |          WHERE length(text) >= 4),
      |sizes AS (SELECT doc_id, count(*) AS n_g FROM grams GROUP BY doc_id),
      |inter AS (SELECT doc_a, doc_b, count(*) AS inter
      |          FROM cand JOIN grams ga ON doc_a = ga.doc_id
      |          JOIN grams gb ON doc_b = gb.doc_id AND ga.gram = gb.gram
      |          GROUP BY doc_a, doc_b)
      |SELECT doc_a, doc_b,
      |  CAST(inter AS DOUBLE) / (za.n_g + zb.n_g - inter) AS char_jaccard
      |FROM inter JOIN sizes za ON doc_a = za.doc_id
      |JOIN sizes zb ON doc_b = zb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (za.n_g + zb.n_g - inter) >= 0.6""".stripMargin

  /** Winnowing fingerprints (the MOSS scheme) over word-3-shingles: hash
    * every shingle, slide a window of 4 consecutive hashes, and keep each
    * window's MINIMUM — any shared run of ≥ 6 tokens is guaranteed to
    * share a fingerprint while only ~1/4 of the shingles are stored. The
    * selection is content-anchored, so it is robust to local edits in a
    * way positional sampling is not — the classic plagiarism/clone
    * primitive, complementing MinHash (set overlap) with LOCALITY.
    * Word-level grams (not chars) because this corpus's shared vocabulary
    * makes char-4-grams promiscuous. Pairs sharing ≥ 3 winnowed
    * fingerprints after a df-cap are reported.
    * Scale: the window min is per-doc (hash shuffle on doc_id, bounded by
    * the longest document); candidates come from an equi-join on the
    * fingerprint — never all-pairs — with the same df-cap blocking as the
    * n-gram query.
    */
  def qWinnow(s: SparkSession, dir: String): DataFrame = {
    val w = 4
    val grams = Tables.documents(s, dir)
      .filter(size(toks) >= 3)
      .withColumn("tk", toks)
      .withColumn("m", (size(col("tk")) - 2).cast("int"))
      .withColumn("sh", ngrams("tk", 3))
      .select(col("doc_id"), col("m"),
        posexplode(expr("transform(sh, x -> md5(x))")).as(Seq("pos0", "h")))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos0"))
      .rowsBetween(Window.currentRow, w - 1)
    val fps = grams
      .withColumn("wmin", min(col("h")).over(win))
      // keep only COMPLETE windows: the last w-1 positions see a truncated
      // frame whose min is not a real window min (pos0 is 0-based)
      .filter(col("pos0") <= col("m") - w)
      .select(col("doc_id"), col("wmin"))
      .distinct()
    sharedRareKeyPairs(fps, "wmin", "shared_fps", minShared = 3)
  }

  val qWinnowSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |g AS (SELECT doc_id, len(tk) - 2 AS m, CAST(u.i AS INT) AS pos0,
      |        md5(tk[u.i] || ' ' || tk[u.i+1] || ' ' || tk[u.i+2]) AS h
      |      FROM t, UNNEST(range(1, len(tk) - 1)) AS u(i)),
      |wm AS (SELECT doc_id, m, pos0,
      |         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos0
      |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      |       FROM g),
      |fps AS (SELECT DISTINCT doc_id, wmin FROM wm WHERE pos0 <= m - 3),
      |rare AS (SELECT wmin FROM fps GROUP BY wmin HAVING COUNT(*) <= 50),
      |b AS (SELECT fps.doc_id, fps.wmin FROM fps JOIN rare USING (wmin))
      |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b, COUNT(*) AS shared_fps
      |FROM b a JOIN b b2 ON a.wmin = b2.wmin AND a.doc_id < b2.doc_id
      |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin

  /** SimHash near-dup pairs. 64-bit fingerprint per doc: bit p is the sign
    * of Σ_tokens (2·bit_p(md5(token)) − 1) over the doc's DISTINCT tokens,
    * where bit_p reads the p-th bit of the first 16 hex digits of md5.
    * Pairs: 2 chunks of 32 bits — by pigeonhole any pair with hamming ≤ 1
    * shares at least one exact chunk, so banded candidates ⊇ every pair at
    * the final threshold (≤1 — this shared-vocabulary corpus makes simhash
    * weakly discriminative, 451 pairs collide exactly at sf0.01) and the
    * final hamming filter makes Spark ≡ the all-pairs oracle.
    * Scale: fingerprints are one explode + hash agg; the pair join is an
    * equi-join on (chunk_idx, chunk_bits).
    */
  def qSimhash(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = Tables.documents(s, dir)
    // Per-token ±1 bit-vectors are computed ONCE on the distinct-token
    // VOCABULARY (tiny — corpora repeat words) and broadcast-joined back,
    // instead of hashing per (doc, token, bit): 64×|vocab| convs instead of
    // 64×|corpus tokens|. Votes then accumulate elementwise per doc with a
    // single zip_with fold — one shuffle of (doc, 64-int array) rows.
    val docTok = docs.select(col("doc_id"), explode(array_distinct(toks)).as("tok"))
    val vocab = docTok.select(col("tok")).distinct()
      .withColumn("h", md5(col("tok")))
      .withColumn("varr", expr(
        """transform(sequence(0, 63), p ->
          |  CAST(2 * ((CAST(conv(substring(h, CAST(p DIV 4 AS INT) + 1, 1), 16, 10) AS INT)
          |    >> (p % 4)) & 1) - 1 AS INT))""".stripMargin))
      .select(col("tok"), col("varr"))
    // pinned: the banded self-join references fingerprints 16× (8 chunk
    // branches × both join sides) — without materialization the whole vote
    // pipeline re-executes per branch. #docs rows, trivially small; at
    // corpus scale this is the signature TABLE you would persist anyway.
    val fp = graft.ops.Lineage.truncate(docTok.join(broadcast(vocab), "tok")
      .groupBy(col("doc_id"))
      .agg(expr(
        """aggregate(collect_list(varr), CAST(array_repeat(0, 64) AS ARRAY<INT>),
          |  (acc, v) -> zip_with(acc, v, (a, b) -> a + b))""".stripMargin).as("votes"))
      .select(col("doc_id"), expr(
        "array_join(transform(votes, v -> CASE WHEN v > 0 THEN '1' ELSE '0' END), '')")
        .as("fp")))
    // Banding: 2 chunks of 32 bits. Pigeonhole: a pair at hamming ≤ 1 has
    // at least one untouched half. Chunks must be WIDE here because this
    // corpus's fingerprints are correlated (shared vocabulary): 8-bit
    // chunks collide for ~all pairs and the "candidates" degenerate to the
    // full cross product; a 32-bit agreement is rare unless the pair really
    // is near-identical.
    val chunks = fp.select(col("doc_id"), col("fp"),
      posexplode(expr("transform(sequence(0, 1), c -> substring(fp, c * 32 + 1, 32))"))
        .as(Seq("chunk", "cbits")))
    chunks.as("x").join(chunks.as("y"), Seq("chunk", "cbits"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.fp").as("fa"), col("y.fp").as("fb"))
      .distinct()
      // codegen'd byte loop (graft.functions.HammingDistance) instead of a
      // 64-element sequence + interpreted lambda per candidate pair; same
      // value (equal-length ASCII fingerprints), so the oracle is unchanged
      .withColumn("hamming", expr("hamming_distance(fa, fb)"))
      .filter(col("hamming") <= 1)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  val qSimhashSql: String =
    """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |            FROM documents),
      |votes AS (
      |  SELECT doc_id, p,
      |    SUM(2 * ((CAST(strpos('0123456789abcdef',
      |            substr(md5(tok), CAST(p // 4 AS INT) + 1, 1)) - 1 AS INT)
      |          // CAST(pow(2, p % 4) AS INT)) % 2) - 1) AS vote
      |  FROM tk, UNNEST(range(0, 64)) AS u(p)
      |  GROUP BY doc_id, p),
      |fp AS (SELECT doc_id,
      |         string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS fp
      |       FROM votes GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  len(list_filter(range(1, 65), i -> substr(a.fp, CAST(i AS INT), 1) <> substr(b.fp, CAST(i AS INT), 1))) AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE len(list_filter(range(1, 65), i -> substr(a.fp, CAST(i AS INT), 1) <> substr(b.fp, CAST(i AS INT), 1))) <= 1""".stripMargin

  /** Embedding near-duplicate mining by sign-random-projection LSH — the
    * cosine analog of MinHash banding and the scale path for "find highly
    * similar embedding pairs" (dedup of embedded docs, mined paraphrases):
    * 64 deterministic hyperplanes (component (p,i) = md5-nibble − 8.5 —
    * half-integers, so a dot product is never exactly 0 and sign is
    * engine-stable), fingerprint bit p = sign of the decimal-accumulated
    * dot with plane p, banded 8×8 bits; pairs sharing any band get an
    * exact decimal cosine, top-15 reported. The oracle replicates the
    * hyperplanes, banding, and verification bit-for-bit in SQL.
    *
    * Scale: fingerprints are a broadcast-join (64-row plane table) plus a
    * per-row fold — one pass over the corpus, no shuffle until the 8-bit
    * band equi-join; P(band match) for cosine s is ((1−acos(s)/π)^8 per
    * band — at a real near-dup threshold (s ≥ 0.95) recall is ~99.6%,
    * while candidates stay ~3% of all pairs on this corpus.
    */
  private def md5hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The 64×64 SRP hyperplane matrix — ONE definition shared by the query,
    * the kernel-parity test (FunctionsSpec), and (by construction) the
    * oracle's SQL-side md5 nibbles. Tiny and md5-determined, so it is
    * computed on the driver and shipped as a literal.
    */
  val srpPlanes: Seq[Seq[Double]] = (0 until 64).map(p => (0 until 64).map(i =>
    "0123456789abcdef".indexOf(md5hex(s"$p:$i").charAt(0)) - 7.5))

  /** The declarative decimal spelling of the SRP fingerprint — kept as the
    * reference semantics [[srpFingerprint]] must match bit-for-bit
    * (FunctionsSpec asserts it against THIS string, so query and test
    * cannot drift apart).
    */
  val srpHofExpr: String =
    """array_join(transform(planes, parr ->
      |  CASE WHEN aggregate(zip_with(embedding, parr, (a, b) ->
      |      CAST(CAST(a AS DOUBLE) * b AS DECIMAL(28,14))),
      |    CAST(0 AS DECIMAL(28,14)), (acc, x) -> CAST(acc + x AS DECIMAL(28,14))) > 0
      |  THEN '1' ELSE '0' END), '')""".stripMargin

  /** The SRP fingerprint the query computes: bit p is the sign of
    * `decimal_dot(emb, plane p)`, the fused form of [[srpHofExpr]]'s
    * DECIMAL(28,14) fold, so each bit is the sign of the same exact sum. A
    * NULL embedding, a NULL element or a length mismatch makes decimal_dot
    * NULL, which the CASE turns into '0' (all-'0', never NULL, as in the
    * HOF); an overflowing term or sum throws from decimal_dot. Needs
    * [[graft.functions.GraftFunctions.register]] on the session.
    */
  def srpFingerprint(emb: Column): Column =
    array_join(transform(typedLit(srpPlanes), p =>
      when(call_function("decimal_dot", emb, p) > 0, lit("1")).otherwise(lit("0"))), "")

  /** SIZING RULE (read before running at corpus scale): candidate volume
    * for b-bit bands over N random-ish vectors is ~N²·bands/2^b pairs —
    * QUADRATIC in N at fixed b. 8-bit bands (256 buckets) are tuned for
    * the bench corpus; at 100× vectors they already produce ~10⁸ pairs
    * (measured: OOM/hour-scale verify stage in the 100× rehearsal). The
    * production rule is band bits ∝ log₂N: grow b so 2^b tracks N and
    * per-bucket occupancy stays O(1), trading recall at the LOW end of
    * the similarity range (16-bit bands retain ~93% recall at s ≥ 0.99
    * but ~19% at 0.95 — the classic LSH b×r tradeoff; add bands/probes
    * to buy recall back). [[qEmbeddingNeardupScaled]] is that
    * configuration as a first-class oracle-gated query. A
    * [[graft.ops.ScaleGuard]] pre-flight turns this sizing rule into a
    * fail-fast error above demonstration scale (override:
    * `spark.graft.allowDemoScale=true`).
    */
  def qEmbeddingNeardup(s: SparkSession, dir: String): DataFrame = {
    graft.ops.ScaleGuard.check(s, s"$dir/embeddings.parquet",
      "q_embedding_neardup",
      "Fixed 8-bit SRP bands (256 buckets) make candidate-pair volume " +
        "~N²·bands/2^b — quadratic in N; the production rule is band bits " +
        "∝ log₂N",
      "q_embedding_neardup_scaled")
    embeddingNeardup(s, dir, bandBits = 8)
  }

  /** The corpus-scale SRP configuration: 16-bit bands (65 536 buckets per
    * band) over the same 64-bit fingerprint, so per-bucket occupancy — and
    * with it candidate-pair volume per vector — stays O(1) out to ~10⁶
    * vectors instead of 8-bit's ~10⁴. Same fingerprint kernel, same exact
    * verify stage; the oracle replays the identical banding, so the gate
    * is self-consistent at any scale.
    */
  def qEmbeddingNeardupScaled(s: SparkSession, dir: String): DataFrame =
    embeddingNeardup(s, dir, bandBits = 16)

  private def embeddingNeardup(s: SparkSession, dir: String, bandBits: Int): DataFrame = {
    val nBands = 64 / bandBits
    graft.functions.GraftFunctions.register(s)
    // All 64 bits fold in a single narrow pass per vector, with NO
    // corpus×planes row explosion and NO groupBy shuffle to reassemble
    // fingerprints. Each bit is one decimal_dot (FunctionsSpec pins the
    // fingerprint bit-identical to srpHofExpr over this very corpus); the
    // exact BigDecimal ops dominate this stage, which is the price of the
    // engine-agnostic sign contract.
    val fp = graft.ops.Lineage.truncate(Tables.embeddings(s, dir)
      .withColumn("fp", srpFingerprint(col("embedding")))
      .select(col("vec_id"), col("fp")))
    val bands = fp.select(col("vec_id"),
      posexplode(expr(s"transform(sequence(0, ${nBands - 1}), " +
          s"b -> substring(fp, b * $bandBits + 1, $bandBits))"))
        .as(Seq("band", "bkey")))
    // hash the pairs on vec_a at the table fanout's width before the
    // distinct: the truncated fingerprints carry no partitioning, and a
    // plain distinct's exchange is coalesced by AQE into one task, which
    // then runs the whole decimal verify stage below on one core
    val cand = bands.as("x").join(bands.as("y"), Seq("band", "bkey"))
      .where(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_a"))
      .distinct()
    // verify stage: fused exact-decimal kernel, bit-identical to the
    // declarative DECIMAL(28,14) fold (FunctionsSpec pins it)
    val pairDot = "decimal_dot(ea, eb)"
    val emb = Tables.embeddings(s, dir)
      .withColumn("nrm", expr("SQRT(decimal_dot(embedding, embedding))"))
    cand
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("vec_a"))
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        r6(expr(pairDot) / (col("na") * col("nb"))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
      .limit(15)
  }

  val qEmbeddingNeardupSql: String = embeddingNeardupSql(8)
  val qEmbeddingNeardupScaledSql: String = embeddingNeardupSql(16)

  private def embeddingNeardupSql(bandBits: Int): String =
    s"""WITH planes AS (
      |  SELECT p, i,
      |    CAST(strpos('0123456789abcdef',
      |      substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) - 8.5 AS DOUBLE) AS comp
      |  FROM UNNEST(range(0, 64)) AS up(p), UNNEST(range(0, 64)) AS ui(i)),
      |bits AS (
      |  SELECT e.vec_id, pl.p,
      |    CASE WHEN SUM(CAST(CAST(e.embedding[CAST(pl.i + 1 AS INT)] AS DOUBLE) * pl.comp AS DECIMAL(28,14))) > 0
      |         THEN '1' ELSE '0' END AS bit
      |  FROM embeddings e JOIN planes pl ON TRUE
      |  GROUP BY e.vec_id, pl.p),
      |fp AS (SELECT vec_id, string_agg(bit, '' ORDER BY p) AS fp FROM bits GROUP BY vec_id),
      |bands AS (SELECT vec_id, b, substr(fp, CAST(b * $bandBits + 1 AS INT), $bandBits) AS bkey
      |          FROM fp, UNNEST(range(0, ${64 / bandBits})) AS ub(b)),
      |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      |         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
      |         WHERE x.vec_id < y.vec_id),
      |n AS (SELECT vec_id, embedding,
      |        SQRT(CAST(list_sum(list_transform(embedding, x ->
      |          CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE)) AS nrm
      |      FROM embeddings)
      |SELECT vec_a, vec_b,
      |  ROUND(CAST(list_sum(list_transform(range(1, len(a.embedding) + 1), i ->
      |      CAST(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE)
      |    / (a.nrm * b.nrm), 6) AS cosine
      |FROM cand JOIN n a ON vec_a = a.vec_id JOIN n b ON vec_b = b.vec_id
      |ORDER BY cosine DESC, vec_a, vec_b LIMIT 15""".stripMargin

  /** Exact cosine top-5 neighbors for the first 20 query vectors.
    * Dot products and norms accumulate in DECIMAL (order-independent,
    * float→double→decimal is engine-identical up to the final r6); ranking
    * uses the ROUNDED similarity with vec_id tie-break so both engines rank
    * identical values identically.
    * Scale: queries are broadcast (tiny side), the corpus streams through —
    * a linear scan per batch of queries, the exact baseline every ANN
    * variant is measured against. See graft.ops.Ann for the bucketed path.
    */
  def qCosineTopk(s: SparkSession, dir: String): DataFrame = {
    // fused exact-decimal kernel — bit-identical to the declarative
    // DECIMAL(28,14) HOF fold (FunctionsSpec pins it) minus interpreted
    // lambda eval on the corpus × queries scan
    graft.functions.GraftFunctions.register(s)
    val dot = "decimal_dot(q_emb, embedding)"
    def normSq(c: String) = s"SQRT(decimal_dot($c, $c))"
    // Norms are per-VECTOR, so compute them once per side before the join —
    // not per pair (which would redo the corpus norm #queries times).
    // Identical double values either way, so the oracle (which inlines the
    // norms per pair) still matches bit-for-bit.
    val emb = Tables.embeddings(s, dir)
      .withColumn("c_norm", expr(normSq("embedding")))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("c_norm").as("q_norm"))
    val scored = broadcast(queries).crossJoin(emb)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        r6(expr(dot) / (col("q_norm") * col("c_norm"))).as("cosine"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("vec_id").as("neighbor"), col("cosine"))
  }

  val qCosineTopkSql: String =
    """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 20),
      |scored AS (
      |  SELECT q_id, vec_id,
      |    ROUND(
      |      CAST(list_sum(list_transform(range(1, len(q_emb) + 1), i ->
      |        CAST(CAST(q_emb[CAST(i AS INT)] AS DOUBLE) * CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE)
      |      / (SQRT(CAST(list_sum(list_transform(q_emb, x ->
      |            CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE))
      |       * SQRT(CAST(list_sum(list_transform(embedding, x ->
      |            CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE))), 6) AS cosine
      |  FROM q CROSS JOIN embeddings WHERE q_id <> vec_id),
      |ranked AS (SELECT q_id, vec_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
      |  FROM scored)
      |SELECT q_id, rnk, vec_id AS neighbor, cosine FROM ranked WHERE rnk <= 5""".stripMargin

  /** Per-label centroids (the IVF coarse-quantizer build step) with
    * decimal-exact per-dimension means, summarized as centroid norms.
    * Gates the math behind ops.Ann.centroids (which uses double avg on the
    * runtime path) against DuckDB.
    * Scale: posexplode is narrow; the aggregate shuffles #labels × dim rows.
    */
  def qCentroids(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      // DECIMAL(28,14), not the money-scale (12,4): float values carry full
      // mantissas and a 4-dp cast rounds where engines can disagree; at
      // 14 dp the residual differences sit under the final r6
      .agg(Exact.dMean14(col("v")).as("mean_v"),
        count(lit(1)).as("n_vecs"))
      .groupBy(col("label"))
      .agg(max(col("n_vecs")).as("n_vecs"),
        r6(sum(expr("CAST(CAST(mean_v * mean_v AS DECIMAL(28,14)) AS DOUBLE)")))
          .as("centroid_norm_sq"))
  }

  val qCentroidsSql: String =
    """WITH e AS (SELECT label, i - 1 AS dim, embedding[CAST(i AS INT)] AS v
      |           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
      |m AS (SELECT label, dim,
      |        CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS mean_v,
      |        COUNT(*) AS n_vecs
      |      FROM e GROUP BY label, dim)
      |SELECT label, MAX(n_vecs) AS n_vecs,
      |  ROUND(SUM(CAST(CAST(mean_v * mean_v AS DECIMAL(28,14)) AS DOUBLE)), 6) AS centroid_norm_sq
      |FROM m GROUP BY label""".stripMargin

  /** Hash-based deterministic sampling — the reproducible corpus subsample
    * (no RNG, survives reruns/backfills bit-for-bit): keep docs whose
    * content sha256 ends in hex 0 or 1 (≈ 1/8 of the corpus).
    */
  def qHashSample(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("h", sha2(col("text"), 256))
      .filter(substring(col("h"), 64, 1).isin("0", "1"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("sampled_docs"), sum(col("n_chars")).as("sampled_chars"))
  }

  val qHashSampleSql: String =
    """SELECT lang, COUNT(*) AS sampled_docs, CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
      |FROM documents
      |WHERE substr(sha256(text), 64, 1) IN ('0', '1')
      |GROUP BY lang""".stripMargin

  /** Fixed-SIZE stratified sampling: exactly 10 docs per language, chosen
    * by content-hash order (sha256, doc_id tie-break) — the reproducible
    * "n examples per stratum" sampler (eval-set carving, per-language
    * quotas) that rand()-based sampleBy cannot give: reruns and backfills
    * select the same rows bit-for-bit.
    * Scale: one hash shuffle on the stratum key; the rank filter plans a
    * WindowGroupLimit, so each partition retains only its top-n during the
    * shuffle — never the full stratum.
    */
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("h", sha2(col("text"), 256))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("lang"), col("rn"), col("doc_id"))
  }

  val qStratifiedSampleSql: String =
    """SELECT lang, rn, doc_id FROM (
      |  SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sha256(text), doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 10""".stripMargin

  /** Mixture sampling — the training-data weighting step (sample source A
    * at 100%, source B at 50%, …) done deterministically: a doc is kept
    * iff its first md5 nibble (a 16-level uniform from content identity)
    * falls under its source's weight, expressed in INTEGER quarters so the
    * keep decision is exact integer math on both engines. No RNG:
    * backfills and reruns reproduce the same sample bit-for-bit, exactly
    * like q_hash_sample.
    * Scale: per-row narrow compute + one hash aggregate of #sources rows.
    */
  def qMixtureSample(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("quarters",
        (expr("CAST(substring(source, 4, 8) AS INT)") % 4) + 1)
      .withColumn("nib", expr(
        "instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1"))
      .groupBy(col("source"), col("quarters"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("nib") < col("quarters") * 4, 1).otherwise(0)).as("n_sampled"))
  }

  val qMixtureSampleSql: String =
    """SELECT source, (CAST(substr(source, 4) AS INT) % 4) + 1 AS quarters,
      |  COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN strpos('0123456789abcdef',
      |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
      |      < ((CAST(substr(source, 4) AS INT) % 4) + 1) * 4
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM documents GROUP BY 1, 2""".stripMargin

  /** Weighted deterministic sampling — keep each document with probability
    * proportional to its length (the importance-weighting step when a
    * pipeline downsamples while preserving long-document token mass).
    * Decision: h * max_chars < n_chars * 65536, where h is a 16-bit
    * uniform from the doc_id's md5 — pure integer comparison (no modulo
    * bias, no RNG, no floats), so reruns and both engines agree
    * bit-for-bit, exactly like q_hash_sample/q_mixture_sample.
    * Scale: the max is one scalar aggregate broadcast into a per-row
    * narrow filter + one #langs-row aggregate. At 100 TB the corpus max
    * would be a config constant rather than a computed subquery.
    */
  def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val maxc = docs.agg(max(col("n_chars")).as("max_chars"))
    docs.crossJoin(broadcast(maxc))
      .withColumn("h", expr(Exact.md5IntExpr("CAST(doc_id AS STRING)", 1, 4)))
      .withColumn("keep", col("h") * col("max_chars") < col("n_chars") * lit(65536L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"))
  }

  val qWeightedSampleSql: String =
    s"""WITH m AS (SELECT MAX(n_chars) AS max_chars FROM documents),
       |k AS (SELECT lang, n_chars,
       |        ${Exact.md5IntSql("CAST(doc_id AS VARCHAR)", 1, 4)} * max_chars
       |          < n_chars * 65536 AS keep
       |      FROM documents CROSS JOIN m)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
       |FROM k GROUP BY lang""".stripMargin

  /** Int8 scalar quantization of embeddings with a recall audit — the
    * standard 4× memory/bandwidth compression before ANN serving: per
    * vector, scale = 127/max|v| and q_i = round(v_i·scale). Scoring is
    * then pure INTEGER dot products (exact on both engines, no decimal
    * gymnastics); the audit ranks every query's top-5 under quantized
    * scores AND under the exact float dot product (decimal-summed, the
    * q_cosine_topk recipe) and reports the overlap (recall@5) plus
    * whether the top-1 survived — the measurement that tells you whether
    * the compression is safe to ship.
    * Scale: quantization is a per-row narrow map (the 100 TB path stores
    * qv once); scoring broadcasts the 10 query vectors; the two rankings
    * are per-query-key windows.
    */
  def qQuantize(s: SparkSession, dir: String): DataFrame = {
    val maxabs =
      "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"
    val qvec =
      s"""transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) *
         |  (CASE WHEN ($maxabs) = 0.0D THEN 0.0D ELSE 127.0D / ($maxabs) END), 0) AS INT))""".stripMargin
    val qdot =
      """CAST(aggregate(zip_with(q_qv, qv, (a, b) -> CAST(a AS BIGINT) * b),
        |  CAST(0 AS BIGINT), (acc, x) -> acc + x) AS BIGINT)""".stripMargin
    val edot =
      """CAST(aggregate(zip_with(q_emb, embedding, (a, b) ->
        |  CAST(CAST(a AS DOUBLE) * CAST(b AS DOUBLE) AS DECIMAL(28,14))),
        |  CAST(0 AS DECIMAL(28,14)), (acc, x) -> CAST(acc + x AS DECIMAL(28,14))) AS DOUBLE)""".stripMargin
    val emb = Tables.embeddings(s, dir).withColumn("qv", expr(qvec))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("embedding").as("q_emb"))
    val pairs = broadcast(queries).crossJoin(emb)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), expr(qdot).as("qdot"), expr(edot).as("edot"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("qdot").desc, col("vec_id"))
    val we = Window.partitionBy(col("q_id")).orderBy(col("edot").desc, col("vec_id"))
    val ranked = pairs
      .withColumn("rq", row_number().over(wq))
      .withColumn("re", row_number().over(we))
    val qtop = ranked.filter(col("rq") <= 5)
    val etop = ranked.filter(col("re") <= 5).select(col("q_id"), col("vec_id"))
    val common = qtop.select(col("q_id"), col("vec_id"))
      .join(etop, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_common"))
    val top1 = qtop.filter(col("rq") === 1)
      .select(col("q_id"), col("vec_id").as("q_top1"), col("qdot").as("qdot_top1"))
    val etop1 = ranked.filter(col("re") === 1)
      .select(col("q_id"), col("vec_id").as("e_top1"))
    top1.join(etop1, "q_id").join(common, "q_id")
      .select(col("q_id"), col("q_top1"), col("qdot_top1"),
        (col("q_top1") === col("e_top1")).as("top1_same"), col("n_common"))
  }

  val qQuantizeSql: String =
    """WITH m AS (SELECT vec_id, embedding,
      |      list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |    FROM embeddings),
      |qv AS (SELECT vec_id, embedding,
      |      list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) *
      |        (CASE WHEN ma = 0.0 THEN 0.0 ELSE 127.0 / ma END), 0) AS INT)) AS qv
      |    FROM m),
      |p AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
      |      CAST(list_sum(list_transform(range(1, len(q.qv) + 1), i ->
      |        CAST(q.qv[CAST(i AS INT)] AS BIGINT) * c.qv[CAST(i AS INT)])) AS BIGINT) AS qdot,
      |      CAST(list_sum(list_transform(range(1, len(q.embedding) + 1), i ->
      |        CAST(CAST(q.embedding[CAST(i AS INT)] AS DOUBLE) *
      |             CAST(c.embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE) AS edot
      |    FROM qv q CROSS JOIN qv c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |r AS (SELECT q_id, vec_id, qdot,
      |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY qdot DESC, vec_id) AS rq,
      |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY edot DESC, vec_id) AS re
      |    FROM p),
      |common AS (
      |  SELECT q_id, COUNT(*) AS n_common
      |  FROM (SELECT q_id, vec_id FROM r WHERE rq <= 5) a
      |  JOIN (SELECT q_id, vec_id FROM r WHERE re <= 5) b USING (q_id, vec_id)
      |  GROUP BY q_id)
      |SELECT t1.q_id, t1.vec_id AS q_top1, t1.qdot AS qdot_top1,
      |  t1.vec_id = e1.vec_id AS top1_same, common.n_common
      |FROM (SELECT q_id, vec_id, qdot FROM r WHERE rq = 1) t1
      |JOIN (SELECT q_id, vec_id FROM r WHERE re = 1) e1 USING (q_id)
      |JOIN common USING (q_id)""".stripMargin

  /** Deterministic 80/10/10 train/val/test split — the reproducible split
    * every training pipeline needs (content-addressed: a doc's split never
    * changes when the corpus grows, unlike rand() or modulo-on-row-number).
    * First md5 byte (0..255) of the doc id: < 204 train, < 230 val, else
    * test. Pure integer comparison; one narrow map + one #splits×#langs
    * aggregate.
    */
  def qSplit(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("b", expr(Exact.md5IntExpr("CAST(doc_id AS STRING)", 1, 2)))
      .withColumn("split",
        when(col("b") < 204, "train").when(col("b") < 230, "val").otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
  }

  val qSplitSql: String =
    s"""SELECT CASE WHEN b < 204 THEN 'train' WHEN b < 230 THEN 'val' ELSE 'test' END AS split,
       |  lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM (SELECT lang, n_chars,
       |        ${Exact.md5IntSql("CAST(doc_id AS VARCHAR)", 1, 2)} AS b
       |      FROM documents) t
       |GROUP BY 1, 2""".stripMargin

  /** Weighted sampling WITHOUT replacement via sequential Poisson sampling
    * (Ohlsson 1998; the PPS-approximate scheme used for audit sampling):
    * priority q_i = u_i / w_i with u_i a deterministic hash-uniform in
    * (0,1], keep the k smallest — heavier docs (w = n_chars) get smaller
    * priorities and over-surface, giving inclusion probability ≈ k·w/Σw.
    * Complements q_weighted_sample (Bernoulli thinning, random SIZE) with
    * a FIXED-size weighted draw. Engine-exactness is by construction: u/w
    * is pure IEEE division (no transcendental in the sort key — an
    * exponential-key Efraimidis-Spirakis draw would order by ln(), which
    * differs at the last ulp between libm implementations and flips
    * near-ties), so both engines rank identical doubles. Plan shape:
    * TakeOrderedAndProject over a narrow map — no shuffle at all beyond
    * the k-row driver merge, the only correct top-k shape at 100 TB.
    */
  def qPpsSample(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("u",
        expr(Exact.md5IntExpr("CAST(doc_id AS STRING)", 1, 12)).cast("double") /
          lit(281474976710656.0)) // 16^12: u in (0,1]
      .withColumn("priority", col("u") / col("n_chars"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("n_chars"), r6(col("priority")).as("priority"))
  }

  val qPpsSampleSql: String = {
    val h = Exact.md5IntSql("CAST(doc_id AS VARCHAR)", 1, 12)
    s"""WITH keyed AS (
       |  SELECT doc_id, n_chars,
       |    (CAST($h AS DOUBLE) / 281474976710656) / n_chars AS priority
       |  FROM documents)
       |SELECT doc_id, n_chars, ROUND(priority, 6) AS priority
       |FROM keyed ORDER BY keyed.priority, doc_id LIMIT 50""".stripMargin
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication = cluster the
    * embedding space, then find near-duplicate PAIRS only within each
    * cluster — the clustering bounds the quadratic pair join to
    * Σ_c |c|² instead of n², which is the entire reason the method scales
    * (the paper runs it on LAION at 10⁸+ rows with k in the thousands).
    * Here: 64 deterministic seed centroids (vec_id < 64), exact-decimal
    * nearest-centroid assignment (the q_kmeans_step spelling), within-
    * cluster exact-decimal cosine ≥ 0.35 as the duplicate predicate
    * (the synthetic embeddings are near-orthogonal — 0.97 on real data),
    * connected components over the duplicate edges, and a per-cluster
    * dedup report: members, edges, duplicate groups, rows a keep-one
    * policy would remove, and the keep rate. Scale: the centroid table
    * broadcasts (k rows); the pair join is an equi-join ON CLUSTER;
    * components run in O(log diameter) rounds over edges only.
    *
    * SIZING RULE: per-cluster pair volume is Σ|c|² — at FIXED k the
    * cluster size grows with N and the method degrades to quadratic
    * (the 100× rehearsal measures exactly that). The paper's rule is
    * k ∝ N so |c| stays constant; [[qSemdedupScaled]] encodes it
    * scale-invariantly (every 32nd vec_id is a centroid → k = N/32,
    * expected cluster size ~32 at ANY corpus size) and is the
    * configuration to rehearse at 100×.
    */
  def qSemdedup(s: SparkSession, dir: String): DataFrame = {
    graft.ops.ScaleGuard.check(s, s"$dir/embeddings.parquet",
      "q_semdedup",
      "Fixed k = 64 centroids make within-cluster pair volume Σ|c|² ≈ " +
        "N²/k — quadratic in N; the paper's rule is k ∝ N so |c| stays " +
        "constant",
      "q_semdedup_scaled (or q_semdedup_ivf)")
    semdedup(s, dir, col("vec_id") < 64)
  }

  /** SemDeDup with the paper's k ∝ N sizing (see [[qSemdedup]] doc):
    * centroids = every 32nd vec_id, so cluster count tracks the corpus
    * and per-cluster pair volume stays O(N), not O(N²). Same assignment,
    * pair, and component machinery; the oracle replays the same
    * centroid rule.
    * Cost class: ANSWER-PROPORTIONAL — growth law + measured anchors in
    * SCALE.md "Answer-proportional queries — sizing rules".
    */
  def qSemdedupScaled(s: SparkSession, dir: String): DataFrame =
    semdedup(s, dir, col("vec_id") % 32 === 0)

  /** SemDeDup with an IVF-PRUNED nearest-centroid assignment — the
    * production-k answer to the brute-force assignment's O(N·k) kernel
    * cost (see [[qSemdedup]] scaladoc): coarse-quantize the CENTROIDS
    * themselves (deterministic coarse cells = every 256th vec_id, so
    * c = N/256 cells ≈ k/8), then per vector (1) rank only the c coarse
    * cells, (2) probe the nprobe=2 nearest, (3) run the exact argmin over
    * just the centroids assigned to those cells. Candidate evals drop
    * from N·k to N·c + k·c + 2·N·(k/c) — at the 100× rehearsal corpus
    * (200 k vectors, 6 250 centroids, 781 cells) that is ~8× fewer — and
    * the filter-and-refine cell ranking below further demotes the
    * dominant N·c term from the exact-decimal kernel to the ~15 ns
    * double one (341 → 122 s at 100×); a production index picks
    * c ≈ √k (fixed at index build) for the classical O(N·√k). Assignment differences vs the exact variant are
    * the measured recall trade of IVF (same trade q_ann_ivf audits);
    * every step is deterministic — (dist, id) tie order throughout — so
    * the DuckDB oracle replays the pruned trajectory CTE-for-CTE and the
    * gate hashes the resulting report exactly. Plan shape: the cell and
    * centroid tables broadcast (O(k) rows with vectors — the codebook
    * convention); the cell-ranking window runs over the SKINNY
    * (vec_id, gid, dist) frame (embeddings re-join by id afterward, so
    * no array rides a shuffle); both argmins are the map-side-collapsing
    * min(struct) aggregate; the report tail is [[semdedupReport]].
    */
  def qSemdedupIvf(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val cents = e.filter(col("vec_id") % 32 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val coarse = e.filter(col("vec_id") % 256 === 0)
      .select(col("vec_id").as("gid"), col("embedding").as("ge"))
    // centroid → coarse cell (k·c evals, argmin aggregate)
    val cass = cents.crossJoin(broadcast(coarse))
      .select(col("cid"),
        struct(expr("decimal_sqdist(ce, ge)").as("d"), col("gid")).as("dg"))
      .groupBy(col("cid")).agg(min(col("dg")).as("m"))
      .select(col("cid"), col("m.gid").as("gid"))
      .join(cents, "cid") // reattach ce for the fine search
    // vector → nprobe=2 nearest coarse cells, FILTER-AND-REFINE (the
    // semdedup assignment recipe applied to a rank boundary): rank the
    // skinny frame by the ~15 ns double `sqdist` first, take d2 = the
    // double distance at rank 2, keep every cell within
    // d2 + 1e-9·(1+d2) (by the SqDist bound this provably contains the
    // exact-decimal top-2, including boundary ties), and re-rank only
    // those ~2 candidates per vector with the oracle's decimal kernel
    // and (d, gid) tie order. Decimal evals drop from N·c to ~2·N —
    // the dominant term of the whole query (N·c ≈ 156 M at 100×).
    // NULL distances (degenerate embeddings) sort first under ASC in
    // BOTH kernels (identical NULL semantics), so they reach the
    // decimal re-rank exactly as they reached the full decimal rank.
    val vd = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("gid"), expr("sqdist(embedding, ge)").as("dd"))
      .withColumn("rn_dd", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("dd"), col("gid"))))
    val d2 = vd.filter(col("rn_dd") === 2)
      .select(col("vec_id"), col("dd").as("d2"))
    val vprobe = vd.join(d2, Seq("vec_id"), "left")
      .filter(col("d2").isNull || col("dd").isNull ||
        col("dd") <= col("d2") + lit(1e-9) * (lit(1.0) + col("d2")))
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(coarse), "gid")
      .select(col("vec_id"), col("gid"),
        expr("decimal_sqdist(embedding, ge)").as("d"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d"), col("gid"))))
      .filter(col("rn") <= 2)
      .select(col("vec_id"), col("gid"))
    // fine search: exact argmin over the probed cells' centroids only
    val assigned = vprobe
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(cass), "gid")
      .select(col("vec_id"),
        struct(expr("decimal_sqdist(embedding, ce)").as("dist"),
          col("cid")).as("dc"))
      .groupBy(col("vec_id")).agg(min(col("dc")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
    semdedupReport(e, graft.ops.Lineage.truncate(assigned)) // same multi-consumer materialization as semdedup
  }

  private def semdedup(s: SparkSession, dir: String,
                       centPred: org.apache.spark.sql.Column): DataFrame = {
    // exact-decimal kernels (decimal_sqdist / decimal_dot): bit-identical
    // to the HOF spellings (FunctionsSpec pins this) minus the interpreted
    // lambda eval that would otherwise dominate the pair scan
    graft.functions.GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val cents = e.filter(centPred)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    // Nearest-centroid assignment, FILTER-AND-REFINE, two passes:
    //
    // Pass 1 (filter): per vector, the double-precision distance minimum
    // via the codegen'd `sqdist` kernel — an ARGMIN AGGREGATE, not a
    // window: min() collapses the N·k crossJoin rows map-side BEFORE any
    // shuffle (the broadcast crossJoin preserves e's partitioning). The
    // window spelling the 100× rehearsal killed shuffled all N·k rows
    // (N²/32 at the k ∝ N scaled configuration).
    //
    // Pass 2 (refine): re-run the broadcast crossJoin, keep only
    // centroids within dmin + 1e-9·(1+dmin) of the double minimum, and
    // run the EXACT-DECIMAL argmin (same min(struct(dist, cid)) tie
    // order the oracle replays) over that candidate set. The SqDist
    // scaladoc derives the bound: decimal and double distances differ by
    // ≤ ~2e-12 + 1.5e-14·d, so the eps-candidate set provably contains
    // every centroid the exact argmin could pick — while typically
    // holding ONE. Exact-decimal kernel evals drop from N·k to ~N
    // (2 320 → 98 s at the 100× rehearsal's 200 k × 6 250 configuration);
    // the N·k work that remains is the ~15 ns double kernel, twice.
    // NULL-distance rows (degenerate embeddings) bypass the filter so
    // the refine argmin sees exactly the rows the single-pass version
    // saw. The DuckDB oracle stays the single-pass brute-force decimal
    // argmin — the gate proves the equivalence on every run.
    val ev = e.select(col("vec_id"), col("embedding"))
    val dmin = ev.crossJoin(broadcast(cents))
      .select(col("vec_id"), expr("sqdist(embedding, ce)").as("dd"))
      .groupBy(col("vec_id")).agg(min(col("dd")).as("dmin"))
    val assigned = ev.join(dmin, Seq("vec_id"))
      .crossJoin(broadcast(cents))
      .withColumn("dd", expr("sqdist(embedding, ce)"))
      .filter(col("dmin").isNull || col("dd").isNull ||
        col("dd") <= col("dmin") + lit(1e-9) * (lit(1.0) + col("dmin")))
      .select(col("vec_id"),
        struct(expr("decimal_sqdist(embedding, ce)").as("dist"),
          col("cid")).as("dc"))
      .groupBy(col("vec_id")).agg(min(col("dc")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
    // referenced by pairs (twice), members, and the component→cluster
    // lookup; without materializing, the assignment crossJoins re-run per
    // ref. Lineage.truncate honors spark.graft.reliableCheckpoint.
    semdedupReport(e, graft.ops.Lineage.truncate(assigned))
  }

  /** Shared SemDeDup tail: within-cluster duplicate pairs, connected
    * components, and the per-cluster dedup report — everything downstream
    * of the (vec_id, cid) assignment, so exact ([[qSemdedup]]/
    * [[qSemdedupScaled]]) and IVF-pruned ([[qSemdedupIvf]]) assignment
    * strategies share one verified implementation.
    */
  private def semdedupReport(e: DataFrame, assigned: DataFrame): DataFrame = {
    val emb = e.withColumn("nrm", expr("SQRT(decimal_dot(embedding, embedding))"))
    val side = assigned.join(emb.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
    // Duplicate-pair predicate, FILTER-AND-REFINE (r15 optimization — the
    // assignment recipe applied to the edge threshold): the edge set only
    // needs the DECISION cosine >= 0.35, not the cosine value, so every
    // pair is first classified by the ~ns codegen'd double kernel and the
    // exact-decimal kernel runs ONLY inside the +/-1e-4 boundary band
    // (plus degenerate-norm pairs, routed to the exact path outright).
    // Soundness of the band: for na*nb >= 1e-6, |double - exact| <=
    // (64*1e-14 + 64*2^-52*sum|x_i y_i|)/(na*nb) + ~10*2^-52 and
    // sum|x_i y_i| <= na*nb (Cauchy-Schwarz), so the error is < 7e-8 —
    // three orders under the band — hence a pair outside the band is
    // classified identically by both kernels (the SqDist-bound
    // discipline). NULL semantics match: a NULL double cosine (dimension
    // mismatch) falls through to the exact branch, which yields NULL and
    // drops the pair exactly as the single-kernel spelling did; a
    // zero-norm pair is 0.0 double vs NULL/NaN exact — both drop. The
    // oracle stays the single-pass decimal spelling and gates every run.
    val exactKeep =
      (expr("decimal_dot(ea, eb)") / (col("na") * col("nb"))) >= 0.35
    val edges = side.select(col("cid"), col("vec_id").as("va"),
        col("embedding").as("ea"), col("nrm").as("na"))
      .join(side.select(col("cid"), col("vec_id").as("vb"),
        col("embedding").as("eb"), col("nrm").as("nb")), Seq("cid"))
      .where(col("va") < col("vb"))
      .withColumn("cd", expr("cosine_similarity(ea, eb)"))
      .filter(
        when(col("na") * col("nb") < 1e-6, exactKeep)
          .when(col("cd") >= 0.35 + 1e-4, lit(true))
          .when(col("cd") < 0.35 - 1e-4, lit(false))
          .otherwise(exactKeep))
      .select(col("cid"), col("va"), col("vb"))
    val edgesM = graft.ops.Lineage.truncate(edges)
    // the pair join is the expensive stage and is referenced twice
    // (components + per-cluster edge counts); materialized it is |edges|
    // rows. Lineage.truncate honors spark.graft.reliableCheckpoint.
    val comp = graft.ops.ConnectedComponents.run(edgesM, "va", "vb")
    val gstat = comp.join(assigned.select(col("vec_id").as("node"), col("cid")), "node")
      .groupBy(col("cid"), col("component")).agg(count(lit(1)).as("sz"))
    val gagg = gstat.groupBy(col("cid")).agg(
      count(lit(1)).as("n_groups"), sum(col("sz") - 1).cast("bigint").as("n_removed"))
    val estat = edgesM.groupBy(col("cid")).agg(count(lit(1)).as("n_edges"))
    val cstat = assigned.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
    cstat.join(estat, Seq("cid"), "left").join(gagg, Seq("cid"), "left")
      .na.fill(0L, Seq("n_edges", "n_groups", "n_removed"))
      .select(col("cid"), col("n_members"), col("n_edges"),
        col("n_groups"), col("n_removed"),
        expr("""ROUND(CAST(n_members - n_removed AS DOUBLE) /
               |  CAST(n_members AS DOUBLE), 6)""".stripMargin).as("keep_rate"))
  }

  val qSemdedupSql: String = semdedupSql("vec_id < 64")
  val qSemdedupScaledSql: String = semdedupSql("vec_id % 32 = 0")

  /** DuckDB spelling of the exact-decimal squared distance between two
    * LIST(FLOAT) columns — must stay term-for-term identical to the
    * decimal_sqdist kernel (CodecSpec/FunctionsSpec pin the kernel; the
    * q_semdedup gate pins this SQL against it).
    */
  private def sqdistSql(a: String, b: String): String =
    s"""SUM(CAST((CAST($a[CAST(i AS INT)] AS DOUBLE) - CAST($b[CAST(i AS INT)] AS DOUBLE))
       |               * (CAST($a[CAST(i AS INT)] AS DOUBLE) - CAST($b[CAST(i AS INT)] AS DOUBLE))
       |            AS DECIMAL(28,14)))""".stripMargin

  /** Exact brute-force assignment head: CTEs `c` (centroids) and `a`
    * (vec_id → cid), the contract the shared tail consumes. */
  private def semdedupAssignSql(centPred: String): String =
    s"""c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE $centPred),
      |d AS (SELECT v.vec_id, c.cid,
      |        ${sqdistSql("v.embedding", "c.ce")} AS dist
      |      FROM embeddings v, c, UNNEST(range(1, len(v.embedding) + 1)) AS u(i)
      |      GROUP BY 1, 2),
      |a AS (SELECT vec_id, cid FROM (
      |        SELECT vec_id, cid,
      |          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |        FROM d) t WHERE rn = 1)""".stripMargin

  /** IVF-pruned assignment head ([[qSemdedupIvf]]): coarse cells, the
    * centroid→cell map, the per-vector nprobe=2 cell ranking, and the
    * fine argmin over probed cells' centroids — same `c`/`a` contract. */
  private lazy val semdedupIvfAssignSql: String =
    s"""c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id % 32 = 0),
      |g AS (SELECT vec_id AS gid, embedding AS ge FROM embeddings WHERE vec_id % 256 = 0),
      |cd AS (SELECT c.cid, g.gid,
      |        ${sqdistSql("c.ce", "g.ge")} AS dist
      |      FROM c, g, UNNEST(range(1, len(c.ce) + 1)) AS u(i)
      |      GROUP BY 1, 2),
      |cass AS (SELECT cid, gid FROM (
      |        SELECT cid, gid,
      |          ROW_NUMBER() OVER (PARTITION BY cid ORDER BY dist, gid) AS rn
      |        FROM cd) t WHERE rn = 1),
      |vd AS (SELECT v.vec_id, g.gid,
      |        ${sqdistSql("v.embedding", "g.ge")} AS dist
      |      FROM embeddings v, g, UNNEST(range(1, len(v.embedding) + 1)) AS u(i)
      |      GROUP BY 1, 2),
      |vprobe AS (SELECT vec_id, gid FROM (
      |        SELECT vec_id, gid,
      |          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, gid) AS rn
      |        FROM vd) t WHERE rn <= 2),
      |fd AS (SELECT v.vec_id, c.cid,
      |        ${sqdistSql("v.embedding", "c.ce")} AS dist
      |      FROM vprobe p JOIN embeddings v ON v.vec_id = p.vec_id
      |        JOIN cass ON cass.gid = p.gid
      |        JOIN c ON c.cid = cass.cid,
      |        UNNEST(range(1, len(v.embedding) + 1)) AS u(i)
      |      GROUP BY 1, 2),
      |a AS (SELECT vec_id, cid FROM (
      |        SELECT vec_id, cid,
      |          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |        FROM fd) t WHERE rn = 1)""".stripMargin

  lazy val qSemdedupIvfSql: String =
    s"WITH RECURSIVE\n$semdedupIvfAssignSql,\n$semdedupReportSql"

  private def semdedupSql(centPred: String): String =
    s"""WITH RECURSIVE
      |${semdedupAssignSql(centPred)},
      |$semdedupReportSql""".stripMargin

  /** Shared SemDeDup report tail (pairs → components → per-cluster
    * report); consumes CTEs `c` and `a` from an assignment head. */
  private lazy val semdedupReportSql: String =
    s"""nrm AS (SELECT vec_id,
      |        SQRT(CAST(SUM(CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
      |                    * CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE)) AS nrm
      |      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
      |      GROUP BY vec_id),
      |p AS (SELECT a1.cid, a1.vec_id AS va, a2.vec_id AS vb,
      |        CAST(SUM(CAST(CAST(e1.embedding[CAST(i AS INT)] AS DOUBLE)
      |                    * CAST(e2.embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) AS dot
      |      FROM a a1 JOIN a a2 ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
      |        JOIN embeddings e1 ON e1.vec_id = a1.vec_id
      |        JOIN embeddings e2 ON e2.vec_id = a2.vec_id,
      |        UNNEST(range(1, len(e1.embedding) + 1)) AS u(i)
      |      GROUP BY 1, 2, 3),
      |edges0 AS (SELECT p.cid, p.va, p.vb
      |      FROM p JOIN nrm x ON x.vec_id = p.va JOIN nrm y ON y.vec_id = p.vb
      |      WHERE p.dot / (x.nrm * y.nrm) >= 0.35),
      |edges AS (SELECT va AS a, vb AS b FROM edges0
      |          UNION SELECT vb, va FROM edges0),
      |reach(node, lbl) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
      |comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
      |gstat AS (SELECT a.cid, comp.component, COUNT(*) AS sz
      |      FROM comp JOIN a ON a.vec_id = comp.node GROUP BY 1, 2),
      |gagg AS (SELECT cid, COUNT(*) AS n_groups,
      |        CAST(SUM(sz - 1) AS BIGINT) AS n_removed FROM gstat GROUP BY cid),
      |estat AS (SELECT cid, COUNT(*) AS n_edges FROM edges0 GROUP BY cid),
      |cstat AS (SELECT cid, COUNT(*) AS n_members FROM a GROUP BY cid)
      |SELECT cid, n_members, COALESCE(n_edges, 0) AS n_edges,
      |  COALESCE(n_groups, 0) AS n_groups, COALESCE(n_removed, 0) AS n_removed,
      |  ROUND(CAST(n_members - COALESCE(n_removed, 0) AS DOUBLE) /
      |    CAST(n_members AS DOUBLE), 6) AS keep_rate
      |FROM cstat LEFT JOIN estat USING (cid) LEFT JOIN gagg USING (cid)""".stripMargin

  /** Product quantization (Jégou et al. TPAMI 2011) — THE memory-
    * compression scheme behind billion-scale ANN (FAISS IVF-PQ): split
    * the 64-dim space into m=4 16-dim subspaces, quantize each
    * subvector against a per-subspace codebook of k=4 seed centroids
    * (vectors vec_id<4, the q_semdedup seeding convention), and encode
    * every vector as 4 one-byte codes — 64 floats → 4 bytes, with the
    * per-subspace quantization error measuring what the compression
    * costs. Assignment is exact-decimal sqdist (the fused decimal_sqdist
    * kernel; ties break to the lowest code), so code assignments — not
    * just counts — are engine-deterministic, and the oracle replays the
    * whole thing per-dimension in SQL. Output: per (subspace, code)
    * population + exact-decimal total error, the codebook-balance /
    * distortion diagnostic a PQ index build emits. Scale: the codebook
    * broadcasts (m·k tiny rows); assignment is one narrow pass over the
    * vectors (m·k kernel calls per row, no shuffle before the rollup);
    * at 100 TB this is exactly the FAISS build loop as a Spark job.
    */
  def qPq(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val subs = array((0 until 4).map(i => lit(i.toLong)): _*)
    val cb = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("code"), col("embedding").as("cemb"))
      .withColumn("s", explode(subs))
      .select(col("s"), col("code"),
        expr("slice(cemb, CAST(s * 16 + 1 AS INT), 16)").as("csub"))
    val assigned = e.select(col("vec_id"), col("embedding"))
      .withColumn("s", explode(subs))
      .withColumn("sub", expr("slice(embedding, CAST(s * 16 + 1 AS INT), 16)"))
      .join(broadcast(cb), Seq("s"))
      .withColumn("dist", expr("decimal_sqdist(sub, csub)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"), col("s"))
          .orderBy(col("dist"), col("code"))))
      .filter(col("rn") === 1)
    assigned.groupBy(col("s"), col("code"))
      .agg(count(lit(1)).as("n_assigned"),
        sum(col("dist")).cast(org.apache.spark.sql.types.DecimalType(38, 14))
          .cast("double").as("sq_error"))
      .select(col("s").as("subspace"), col("code"), col("n_assigned"),
        r6(col("sq_error")).as("sq_error"))
  }

  val qPqSql: String =
    """WITH sub AS (SELECT CAST(s AS BIGINT) AS s FROM UNNEST([0, 1, 2, 3]) u(s)),
      |cb AS (SELECT sub.s, vec_id AS code, embedding AS cemb
      |       FROM embeddings, sub WHERE vec_id < 4),
      |d AS (SELECT v.vec_id, cb.s, cb.code,
      |        SUM(CAST((CAST(v.embedding[CAST(cb.s * 16 + i AS INT)] AS DOUBLE)
      |                   - CAST(cb.cemb[CAST(cb.s * 16 + i AS INT)] AS DOUBLE))
      |                * (CAST(v.embedding[CAST(cb.s * 16 + i AS INT)] AS DOUBLE)
      |                   - CAST(cb.cemb[CAST(cb.s * 16 + i AS INT)] AS DOUBLE))
      |              AS DECIMAL(28,14))) AS dist
      |      FROM embeddings v, cb, UNNEST(range(1, 17)) AS u(i)
      |      GROUP BY 1, 2, 3),
      |a AS (SELECT vec_id, s, code, dist FROM (
      |        SELECT vec_id, s, code, dist,
      |          ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
      |        FROM d) t WHERE rn = 1)
      |SELECT s AS subspace, code, COUNT(*) AS n_assigned,
      |  ROUND(CAST(CAST(SUM(dist) AS DECIMAL(38,14)) AS DOUBLE), 6) AS sq_error
      |FROM a GROUP BY 1, 2""".stripMargin

  /** IVF-PQ search with asymmetric distance computation — the canonical
    * billion-scale ANN layout (IVFADC, Jégou et al. TPAMI 2011),
    * composing q_ann_ivf's coarse quantizer with q_pq's product codes
    * over RESIDUALS: every vector is assigned to its nearest coarse
    * centroid, the residual (vector − centroid) is product-quantized in
    * 4 × 16-dim subspaces, and a query scans only its nprobe=2 nearest
    * lists by summing per-subspace LOOKUP-TABLE distances (query residual
    * vs each code) instead of touching any stored float — the memory/IO
    * shape that makes 100 TB of embeddings searchable: the stored corpus
    * is (cid, 4 codes) per vector, the per-query state is a
    * q·nprobe·subspace·k LUT. Every distance is the exact-decimal kernel
    * over engine-identical double residuals, all argmins tie-break on
    * (dist, id), so the full trajectory — assignments, codebook,
    * encodings, probes, LUT, final ADC top-5 — is hash-gated; the oracle
    * replays each stage as a MATERIALIZED CTE. Broadcasts: 8-row coarse
    * table, 16-row codebook, 64-row LUT (all O(k)).
    */
  /** The IVFADC pipeline up to the per-(query, candidate) ADC distance —
    * shared by q_ivf_pq (the search) and q_ivf_pq_recall (the quality
    * audit), so the two can never drift apart structurally.
    */
  private def ivfPqAdc(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val resid = "zip_with(%s, %s, (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    val coarse = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    // pinned: feeds the codebook, the encode pass, and nothing else
    val assigned = graft.ops.Lineage.truncate(e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(coarse))
      .withColumn("d", expr("decimal_sqdist(embedding, cemb)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d"), col("cid"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"),
        expr(resid.format("embedding", "cemb")).as("res")))
    val subs = array((0 until 4).map(i => lit(i.toLong)): _*)
    val cb = assigned.filter(col("vec_id") < 4)
      .withColumn("s", explode(subs))
      .select(col("s"), col("vec_id").as("code"),
        expr("slice(res, CAST(s * 16 + 1 AS INT), 16)").as("csub"))
    val encoded = assigned
      .withColumn("s", explode(subs))
      .withColumn("rsub", expr("slice(res, CAST(s * 16 + 1 AS INT), 16)"))
      .join(broadcast(cb), Seq("s"))
      .withColumn("cd", expr("decimal_sqdist(rsub, csub)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"), col("s")).orderBy(col("cd"), col("code"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("s"), col("code"))
    val queries = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val probes = queries.crossJoin(broadcast(coarse))
      .withColumn("qd", expr("decimal_sqdist(qemb, cemb)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("qd"), col("cid"))))
      .filter(col("rn") <= 2)
      .select(col("qid"), col("cid"),
        expr(resid.format("qemb", "cemb")).as("qres"))
    val lut = probes
      .withColumn("s", explode(subs))
      .withColumn("qsub", expr("slice(qres, CAST(s * 16 + 1 AS INT), 16)"))
      .join(broadcast(cb), Seq("s"))
      .select(col("qid"), col("cid"), col("s"), col("code"),
        expr("decimal_sqdist(qsub, csub)").as("ld"))
    encoded.join(broadcast(lut), Seq("cid", "s", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("ld")).as("adc"))
  }

  def qIvfPq(s: SparkSession, dir: String): DataFrame =
    ivfPqAdc(s, dir)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("vec_id"),
        r6(col("adc").cast("double")).as("adc_dist"))

  /** Quality audit for q_ivf_pq — the q_lsh_recall discipline applied to
    * IVFADC: for each query, the ADC top-5 is compared against the EXACT
    * brute-force top-5 (full-precision decimal distances over the whole
    * corpus, self-match excluded from neither side — both rankers see the
    * same candidate set, so the comparison is apples-to-apples). Reports
    * recall@5 as an exact integer ratio plus whether the true nearest
    * neighbor was found — the two numbers that decide nprobe/codebook
    * sizing before a 100 TB index build. Scale: the brute-force side is
    * the audit's cost and runs over q×N pairs for q=2 probes — the
    * production search path being audited stays list-pruned.
    */
  def qIvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val exactTop = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(queries))
      .withColumn("xd", expr("decimal_sqdist(embedding, qemb)"))
      .withColumn("xrank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("xd"), col("vec_id"))))
      .filter(col("xrank") <= 5)
      .select(col("qid"), col("vec_id"), col("xrank"))
    val adcTop = ivfPqAdc(s, dir)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id"))
    exactTop.join(adcTop, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_hits"))
      .join(exactTop.filter(col("xrank") === 1)
        .join(adcTop, Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("top1")), Seq("qid"), "left")
      .select(col("qid"), col("n_hits"),
        r6(col("n_hits").cast("double") / 5).as("recall_at_5"),
        coalesce(col("top1") === 1, lit(false)).as("top1_found"))
  }

  private val ivfPqCtes: String = {
    def sq(a: String, b: String) =
      s"SUM(CAST(($a - $b) * ($a - $b) AS DECIMAL(28,14)))"
    val vi = "CAST(v.embedding[CAST(i AS INT)] AS DOUBLE)"
    val ci = "CAST(c.cemb[CAST(i AS INT)] AS DOUBLE)"
    val qi = "CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)"
    val rsi = "r.res[CAST(cb.s * 16 + i AS INT)]"
    val csi = "cb.cres[CAST(cb.s * 16 + i AS INT)]"
    val psi = "p.qres[CAST(cb.s * 16 + i AS INT)]"
    s"""WITH coarse AS MATERIALIZED (
       |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 8),
       |adist AS MATERIALIZED (
       |  SELECT v.vec_id, c.cid, ${sq(vi, ci)} AS d
       |  FROM embeddings v, coarse c, UNNEST(range(1, 65)) AS u(i) GROUP BY 1, 2),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM adist) t WHERE rn = 1),
       |res AS MATERIALIZED (
       |  SELECT a.vec_id, a.cid,
       |    list_transform(range(1, 65), i ->
       |      CAST(v.embedding[CAST(i AS INT)] AS DOUBLE)
       |      - CAST(c.cemb[CAST(i AS INT)] AS DOUBLE)) AS res
       |  FROM assigned a JOIN embeddings v USING (vec_id) JOIN coarse c ON a.cid = c.cid),
       |cb AS MATERIALIZED (
       |  SELECT CAST(u.s AS BIGINT) AS s, vec_id AS code, res AS cres
       |  FROM res, UNNEST([0, 1, 2, 3]) AS u(s) WHERE vec_id < 4),
       |encd AS MATERIALIZED (
       |  SELECT r.vec_id, r.cid, cb.s, cb.code, ${sq(rsi, csi)} AS cd
       |  FROM res r, cb, UNNEST(range(1, 17)) AS u(i) GROUP BY 1, 2, 3, 4),
       |encoded AS MATERIALIZED (
       |  SELECT vec_id, cid, s, code FROM (
       |    SELECT vec_id, cid, s, code,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY cd, code) AS rn
       |    FROM encd) t WHERE rn = 1),
       |qdist AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, c.cid, ${sq(qi, ci)} AS qd
       |  FROM embeddings q, coarse c, UNNEST(range(1, 65)) AS u(i)
       |  WHERE q.vec_id < 2 GROUP BY 1, 2),
       |probes AS MATERIALIZED (
       |  SELECT p0.qid, p0.cid,
       |    list_transform(range(1, 65), i ->
       |      CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)
       |      - CAST(c.cemb[CAST(i AS INT)] AS DOUBLE)) AS qres
       |  FROM (SELECT qid, cid FROM (
       |          SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qd, cid) AS rn
       |          FROM qdist) t WHERE rn <= 2) p0
       |  JOIN embeddings q ON q.vec_id = p0.qid JOIN coarse c ON p0.cid = c.cid),
       |lut AS MATERIALIZED (
       |  SELECT p.qid, p.cid, cb.s, cb.code, ${sq(psi, csi)} AS ld
       |  FROM probes p, cb, UNNEST(range(1, 17)) AS u(i) GROUP BY 1, 2, 3, 4),
       |adc AS MATERIALIZED (
       |  SELECT l.qid, e2.vec_id, SUM(l.ld) AS adc
       |  FROM encoded e2 JOIN lut l ON e2.cid = l.cid AND e2.s = l.s AND e2.code = l.code
       |  GROUP BY 1, 2)""".stripMargin
  }

  val qIvfPqSql: String =
    ivfPqCtes + """
      |SELECT qid, rank, vec_id, ROUND(CAST(adc AS DOUBLE), 6) AS adc_dist FROM (
      |  SELECT qid, vec_id, adc,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rank
      |  FROM adc) t WHERE rank <= 5""".stripMargin

  val qIvfPqRecallSql: String =
    ivfPqCtes + """,
      |xd AS MATERIALIZED (
      |  SELECT q.vec_id AS qid, v.vec_id,
      |    SUM(CAST((CAST(v.embedding[CAST(i AS INT)] AS DOUBLE)
      |              - CAST(q.embedding[CAST(i AS INT)] AS DOUBLE))
      |           * (CAST(v.embedding[CAST(i AS INT)] AS DOUBLE)
      |              - CAST(q.embedding[CAST(i AS INT)] AS DOUBLE))
      |          AS DECIMAL(28,14))) AS xd
      |  FROM embeddings v, embeddings q, UNNEST(range(1, 65)) AS u(i)
      |  WHERE q.vec_id < 2 GROUP BY 1, 2),
      |xtop AS MATERIALIZED (
      |  SELECT qid, vec_id, xrank FROM (
      |    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY xd, vec_id) AS xrank
      |    FROM xd) t WHERE xrank <= 5),
      |atop AS MATERIALIZED (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rank
      |    FROM adc) t WHERE rank <= 5)
      |SELECT h.qid, h.n_hits, ROUND(CAST(h.n_hits AS DOUBLE) / 5, 6) AS recall_at_5,
      |  COALESCE(t.c = 1, FALSE) AS top1_found
      |FROM (SELECT x.qid, COUNT(*) AS n_hits FROM xtop x JOIN atop a USING (qid, vec_id)
      |      GROUP BY 1) h
      |LEFT JOIN (SELECT x.qid, COUNT(*) AS c FROM xtop x JOIN atop a USING (qid, vec_id)
      |           WHERE x.xrank = 1 GROUP BY 1) t USING (qid)""".stripMargin

  /** Hard-negative mining for contrastive training (the triplet-mining
    * pass every embedding-model data pipeline runs, Schroff et al. FaceNet
    * CVPR 2015): for each anchor vector, find the HARDEST POSITIVE (the
    * most-similar same-label vector — the easiest true match) and the
    * top-3 HARDEST NEGATIVES (the most-similar different-label vectors —
    * the confusable impostors), and report each negative's margin
    * cos(neg) − cos(pos). Negatives with margin > −m violate a triplet
    * margin m and are exactly the pairs worth training on. Cosines use
    * the q_cosine_topk recipe (fused exact-decimal dot kernel, per-vector
    * norms, round-6 before ranking, (cosine DESC, vec_id) total order),
    * so rankings and margins are engine-deterministic. Anchors: vec_id <
    * 16. Scale: anchors are the O(q) broadcast side of one corpus scan
    * (same shape as q_cosine_topk); both windows partition by anchor. At
    * 100 TB you'd swap the exact scan for the IVF shortlist (q_ivf_rerank)
    * and keep this ranking tail verbatim.
    */
  def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = Tables.embeddings(s, dir)
      .withColumn("c_norm", expr("SQRT(decimal_dot(embedding, embedding))"))
    val anchors = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"), col("c_norm").as("q_norm"))
    val scored = broadcast(anchors).crossJoin(emb)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        r6(expr("decimal_dot(q_emb, embedding)") / (col("q_norm") * col("c_norm")))
          .as("cosine"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    val pos = scored.filter(col("label") === col("q_label"))
      .withColumn("prn", row_number().over(w)).filter(col("prn") === 1)
      .select(col("q_id"), col("vec_id").as("pos_id"), col("cosine").as("pos_cos"))
    val neg = scored.filter(col("label") =!= col("q_label"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("q_id"), col("q_label"), col("rnk"),
        col("vec_id").as("neg_id"), col("label").as("neg_label"),
        col("cosine").as("neg_cos"))
    neg.join(pos, Seq("q_id"))
      .select(col("q_id"), col("q_label"), col("rnk"), col("neg_id"),
        col("neg_label"), col("neg_cos"), col("pos_id"), col("pos_cos"),
        r6(col("neg_cos") - col("pos_cos")).as("margin"))
  }

  val qHardNegativesSql: String =
    """WITH nrm AS (
      |  SELECT vec_id, label, embedding,
      |    SQRT(CAST(list_sum(list_transform(embedding, x ->
      |      CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE)) AS nrm
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb, nrm AS q_norm
      |      FROM nrm WHERE vec_id < 16),
      |scored AS (
      |  SELECT q_id, q_label, vec_id, label,
      |    ROUND(
      |      CAST(list_sum(list_transform(range(1, len(q_emb) + 1), i ->
      |        CAST(CAST(q_emb[CAST(i AS INT)] AS DOUBLE)
      |           * CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE)
      |      / (q_norm * nrm), 6) AS cosine
      |  FROM q CROSS JOIN nrm WHERE q_id <> vec_id),
      |pos AS (SELECT q_id, vec_id AS pos_id, cosine AS pos_cos FROM (
      |    SELECT q_id, vec_id, cosine,
      |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS prn
      |    FROM scored WHERE label = q_label) t WHERE prn = 1),
      |neg AS (SELECT q_id, q_label, rnk, vec_id AS neg_id, label AS neg_label,
      |               cosine AS neg_cos FROM (
      |    SELECT q_id, q_label, vec_id, label, cosine,
      |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
      |    FROM scored WHERE label <> q_label) t WHERE rnk <= 3)
      |SELECT n.q_id, n.q_label, n.rnk, n.neg_id, n.neg_label, n.neg_cos,
      |  p.pos_id, p.pos_cos, ROUND(n.neg_cos - p.pos_cos, 6) AS margin
      |FROM neg n JOIN pos p USING (q_id)""".stripMargin

  /** Two-stage retrieval: ADC shortlist → EXACT rerank — the refine step
    * every production IVF-PQ deployment runs (FAISS's refine/RFlat layer):
    * the compressed-domain ADC scan (q_ivf_pq's pipeline, shared helper)
    * proposes a top-20 shortlist per query, then only those 20 stored
    * vectors are fetched and re-scored with full-precision exact-decimal
    * distances, and the top-5 is re-ranked. `adc_rank` vs final `rank`
    * (and the `moved` flag) expose exactly what quantization error the
    * refine step corrected — the audit that sizes the shortlist before a
    * 100 TB index build. Scale: the shortlist is an O(q·20) frame
    * (deliberately broadcast — bounded by construction, like the LUT);
    * fetching full vectors for shortlisted ids is the standard refine
    * random-access, here a broadcast-probe join against the corpus; the
    * corpus itself is touched only by the compressed ADC scan.
    */
  def qIvfRerank(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val shortlist = ivfPqAdc(s, dir)
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
      .filter(col("adc_rank") <= 20)
      .select(col("qid"), col("vec_id"), col("adc_rank"))
    e.select(col("vec_id"), col("embedding"))
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(queries), Seq("qid"))
      .withColumn("xd", expr("decimal_sqdist(embedding, qemb)"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("xd"), col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("vec_id"),
        r6(col("xd").cast("double")).as("exact_dist"),
        col("adc_rank"), (col("adc_rank") =!= col("rank")).as("moved"))
  }

  val qIvfRerankSql: String =
    ivfPqCtes + """,
      |ashort AS MATERIALIZED (
      |  SELECT qid, vec_id, adc_rank FROM (
      |    SELECT qid, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS adc_rank
      |    FROM adc) t WHERE adc_rank <= 20),
      |rr AS MATERIALIZED (
      |  SELECT a.qid, a.vec_id, a.adc_rank,
      |    SUM(CAST((CAST(v.embedding[CAST(i AS INT)] AS DOUBLE)
      |              - CAST(q.embedding[CAST(i AS INT)] AS DOUBLE))
      |           * (CAST(v.embedding[CAST(i AS INT)] AS DOUBLE)
      |              - CAST(q.embedding[CAST(i AS INT)] AS DOUBLE))
      |          AS DECIMAL(28,14))) AS xd
      |  FROM ashort a JOIN embeddings v ON v.vec_id = a.vec_id
      |    JOIN embeddings q ON q.vec_id = a.qid,
      |    UNNEST(range(1, len(v.embedding) + 1)) AS u(i)
      |  GROUP BY 1, 2, 3)
      |SELECT qid, rank, vec_id, ROUND(CAST(xd AS DOUBLE), 6) AS exact_dist,
      |  adc_rank, adc_rank <> rank AS moved
      |FROM (SELECT qid, vec_id, adc_rank, xd,
      |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY xd, vec_id) AS rank
      |      FROM rr) t WHERE rank <= 5""".stripMargin

  /** Sketch-accuracy audit for the MinHash pipeline: for every LSH
    * candidate pair, the ESTIMATED Jaccard (fraction of agreeing minhash
    * components — the unbiased MinHash estimator) next to the EXACT
    * shingle Jaccard and the estimator error. This is the diagnostic that
    * tells you whether 8 hashes / 4×2 banding is enough for the corpus at
    * hand before the thresholded dedup runs — q_approx_distinct's
    * "audit the sketch against truth" pattern applied to MinHash. Both
    * columns are integer ratios (agreeing components / 8, intersection /
    * union), so the gate is exact. Same signature/banding spellings as
    * q_minhash_lsh. Scale: identical to q_minhash_lsh — the exact column
    * is computed only for LSH candidates, never all pairs.
    */
  def qMinhashEstimate(s: SparkSession, dir: String): DataFrame = {
    val sh = graft.ops.Lineage.truncate(shingles(s, dir))
    val (sig, cand) = minhashCandidates(sh)
    val sigA = sig.select(col("doc_id").as("doc_a") +:
      (0 until minhashHashes).map(i => col(s"h$i").as(s"a$i")): _*)
    val sigB = sig.select(col("doc_id").as("doc_b") +:
      (0 until minhashHashes).map(i => col(s"h$i").as(s"b$i")): _*)
    val matches = (0 until minhashHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // Corpus-dependent candidate set: no broadcast hint (see q_minhash_lsh).
    val inter = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    cand
      .join(sigA, "doc_a").join(sigB, "doc_b")
      .withColumn("n_match", matches)
      .select(col("doc_a"), col("doc_b"), col("n_match"))
      .join(inter, Seq("doc_a", "doc_b"), "left").na.fill(0L, Seq("inter"))
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        expr("ROUND(CAST(n_match AS DOUBLE) / 8.0, 6)").as("est_jaccard"),
        expr("""ROUND(CAST(inter AS DOUBLE) /
               |  CAST(za.n_sh + zb.n_sh - inter AS DOUBLE), 6)""".stripMargin)
          .as("exact_jaccard"),
        expr("""ROUND(ABS(CAST(n_match AS DOUBLE) / 8.0 - CAST(inter AS DOUBLE) /
               |  CAST(za.n_sh + zb.n_sh - inter AS DOUBLE)), 6)""".stripMargin)
          .as("abs_err"))
  }

  val qMinhashEstimateSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
      |       FROM t, UNNEST(range(1, len(tk)-1)) AS u(i)),
      |sig AS (SELECT doc_id,
      |  min(md5('0:' || shingle)) AS h0,  min(md5('1:' || shingle)) AS h1,
      |  min(md5('2:' || shingle)) AS h2,  min(md5('3:' || shingle)) AS h3,
      |  min(md5('4:' || shingle)) AS h4,  min(md5('5:' || shingle)) AS h5,
      |  min(md5('6:' || shingle)) AS h6,  min(md5('7:' || shingle)) AS h7
      |  FROM sh GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, h0||h1 AS bkey FROM sig UNION ALL
      |  SELECT doc_id, 1, h2||h3 FROM sig UNION ALL
      |  SELECT doc_id, 2, h4||h5 FROM sig UNION ALL
      |  SELECT doc_id, 3, h6||h7 FROM sig),
      |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |         FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
      |         WHERE x.doc_id < y.doc_id),
      |m AS (SELECT doc_a, doc_b,
      |        CAST((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END) + (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END)
      |           + (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END) + (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END)
      |           + (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END) + (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END)
      |           + (CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END) + (CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS n_match
      |      FROM cand JOIN sig a ON a.doc_id = doc_a JOIN sig b ON b.doc_id = doc_b),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |ints AS (SELECT doc_a, doc_b, COUNT(*) AS inter
      |        FROM cand JOIN sh sa ON sa.doc_id = doc_a
      |                  JOIN sh sb ON sb.doc_id = doc_b AND sa.shingle = sb.shingle
      |        GROUP BY doc_a, doc_b)
      |SELECT doc_a, doc_b, n_match,
      |  ROUND(CAST(n_match AS DOUBLE) / 8.0, 6) AS est_jaccard,
      |  ROUND(CAST(COALESCE(inter, 0) AS DOUBLE) /
      |    CAST(za.n_sh + zb.n_sh - COALESCE(inter, 0) AS DOUBLE), 6) AS exact_jaccard,
      |  ROUND(ABS(CAST(n_match AS DOUBLE) / 8.0 - CAST(COALESCE(inter, 0) AS DOUBLE) /
      |    CAST(za.n_sh + zb.n_sh - COALESCE(inter, 0) AS DOUBLE)), 6) AS abs_err
      |FROM m LEFT JOIN ints USING (doc_a, doc_b)
      |  JOIN sizes za ON za.doc_id = doc_a
      |  JOIN sizes zb ON zb.doc_id = doc_b""".stripMargin

  /** Exact Jaccard similarity self-join at threshold 0.6 over word-3-
    * shingle sets, via [[graft.ops.PrefixFilterJoin]] (AllPairs prefix
    * filtering — Bayardo et al. WWW'07). Unlike q_ngram_jaccard's df-cap
    * blocking (which trades recall for candidate-set size) and
    * q_minhash_lsh (probabilistic recall), prefix filtering is EXACT with
    * pruning: the output equals brute-force all-pairs, proven
    * differentially in PrefixFilterJoinSpec; the oracle replicates the
    * pruning CTE-for-CTE so the gate checks the whole pipeline (df ranking
    * → prefix → length filter → verify). Shingle sets, not word sets: this
    * corpus's small shared vocabulary makes word-SET similarity degenerate
    * (≥0.6 for half of all pairs), while shingle similarity separates the
    * planted near-dups (≈0.99) from everything else (≈0) — the same reason
    * the MinHash family shingles first. All pruning comparisons are
    * integer cross-multiplications — no float boundary exists anywhere.
    * Cost class: ANSWER-PROPORTIONAL — growth law + measured anchors in
    * SCALE.md "Answer-proportional queries — sizing rules".
    */
  def qJaccardJoin(s: SparkSession, dir: String): DataFrame = {
    graft.ops.PrefixFilterJoin
      .jaccardSelfJoin(shingles(s, dir).withColumnRenamed("shingle", "tok"),
        "doc_id", "tok", 6, 10)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("inter"), (col("n_a") + col("n_b") - col("inter")).as("union_sz"),
        r6(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
          .as("jaccard"))
  }

  val qJaccardJoinSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |p AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS tok
      |      FROM t, UNNEST(range(1, len(tk) - 1)) AS u(i)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM p GROUP BY doc_id),
      |dfx AS (SELECT tok, COUNT(*) AS df FROM p GROUP BY tok),
      |rk AS (SELECT p.doc_id, p.tok, n,
      |         row_number() OVER (PARTITION BY p.doc_id ORDER BY df, p.tok) AS pos
      |       FROM p JOIN dfx USING (tok) JOIN sz USING (doc_id)),
      |pref AS (SELECT * FROM rk WHERE pos <= n - ((6 * n + 9) // 10) + 1),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                a.n AS na, b.n AS nb
      |         FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |         WHERE 10 * LEAST(a.n, b.n) >= 6 * GREATEST(a.n, b.n)),
      |iv AS (SELECT doc_a, doc_b, na, nb, COUNT(*) AS inter
      |       FROM cand JOIN p pa ON doc_a = pa.doc_id
      |       JOIN p pb ON doc_b = pb.doc_id AND pa.tok = pb.tok
      |       GROUP BY 1, 2, 3, 4)
      |SELECT doc_a, doc_b, inter, na + nb - inter AS union_sz,
      |  ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
      |FROM iv WHERE 10 * inter >= 6 * (na + nb - inter)""".stripMargin

  /** LSH candidate-quality audit: recall and precision of the MinHash
    * banding candidate set (q_minhash_lsh's 4×2 scheme, BEFORE its exact
    * verify) against the TRUE ≥0.6-Jaccard pair set computed exactly by
    * [[graft.ops.PrefixFilterJoin]] — the companion to q_minhash_est
    * (which audits the ESTIMATOR; this audits the CANDIDATE GENERATOR).
    * With exact ground truth now cheap (prefix filtering), the
    * recall/precision of a probabilistic blocking scheme becomes a
    * measurable, gateable quantity instead of a formula on a slide: the
    * counts are exact BIGINTs, the two ratios are one IEEE division each.
    * Scale: both pair-producers are equi-joins (band key / rare-prefix
    * token); the audit join is pair-keyed; all three counts fold out of
    * one full-outer join in a single map-side-combinable aggregate.
    * Cost class: ANSWER-PROPORTIONAL — growth law + measured anchors in
    * SCALE.md "Answer-proportional queries — sizing rules".
    */
  def qLshRecall(s: SparkSession, dir: String): DataFrame = {
    val sh = graft.ops.Lineage.truncate(shingles(s, dir))
    // band candidates — q_minhash_lsh's derivation, stopped before verify
    val (_, cand) = minhashCandidates(sh)
    val exact = graft.ops.PrefixFilterJoin
      .jaccardSelfJoin(sh.withColumnRenamed("shingle", "tok"), "doc_id", "tok", 6, 10)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    // Single-pass audit: ONE full-outer join on the pair key labels every
    // pair as candidate / exact / both, and ONE aggregate produces all
    // three counts — each pair-producer executes exactly once. (The old
    // shape ran three separate count aggregates over cached frames plus
    // two crossJoins; at sf0.1 it cost 42 s against ~8 s of underlying
    // work because the three actions serialized the DAG three times.)
    cand.withColumn("is_cand", lit(1L))
      .join(exact.withColumn("is_exact", lit(1L)), Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        // coalesce: sum over an empty/all-null side is NULL, but the contract
        // (and the DuckDB oracle's COUNT(*)) is 0 on a degenerate corpus with
        // no exact or candidate pairs
        coalesce(sum(col("is_exact")), lit(0L)).as("n_exact"),
        coalesce(sum(col("is_cand")), lit(0L)).as("n_candidates"),
        coalesce(sum(when(col("is_cand") === 1L && col("is_exact") === 1L, 1L)
          .otherwise(0L)), lit(0L)).as("n_true_pos"))
      .select(col("n_exact"), col("n_candidates"), col("n_true_pos"),
        r6(col("n_true_pos").cast("double") / col("n_exact")).as("recall"),
        r6(col("n_true_pos").cast("double") / col("n_candidates")).as("precision"))
  }

  val qLshRecallSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
      |       FROM t, UNNEST(range(1, len(tk)-1)) AS u(i)),
      |sig AS (SELECT doc_id,
      |  min(md5('0:' || shingle)) AS h0,  min(md5('1:' || shingle)) AS h1,
      |  min(md5('2:' || shingle)) AS h2,  min(md5('3:' || shingle)) AS h3,
      |  min(md5('4:' || shingle)) AS h4,  min(md5('5:' || shingle)) AS h5,
      |  min(md5('6:' || shingle)) AS h6,  min(md5('7:' || shingle)) AS h7
      |  FROM sh GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, h0||h1 AS bkey FROM sig UNION ALL
      |  SELECT doc_id, 1, h2||h3 FROM sig UNION ALL
      |  SELECT doc_id, 2, h4||h5 FROM sig UNION ALL
      |  SELECT doc_id, 3, h6||h7 FROM sig),
      |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |         FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
      |         WHERE x.doc_id < y.doc_id),
      |psz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |pdf AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
      |prk AS (SELECT sh.doc_id, sh.shingle, n,
      |          row_number() OVER (PARTITION BY sh.doc_id ORDER BY df, sh.shingle) AS pos
      |        FROM sh JOIN pdf USING (shingle) JOIN psz USING (doc_id)),
      |ppref AS (SELECT * FROM prk WHERE pos <= n - ((6 * n + 9) // 10) + 1),
      |pcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                 a.n AS na, b.n AS nb
      |          FROM ppref a JOIN ppref b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          WHERE 10 * LEAST(a.n, b.n) >= 6 * GREATEST(a.n, b.n)),
      |piv AS (SELECT doc_a, doc_b, na, nb, COUNT(*) AS inter
      |        FROM pcand JOIN sh pa ON doc_a = pa.doc_id
      |        JOIN sh pb ON doc_b = pb.doc_id AND pa.shingle = pb.shingle
      |        GROUP BY 1, 2, 3, 4),
      |exact AS (SELECT doc_a, doc_b FROM piv
      |          WHERE 10 * inter >= 6 * (na + nb - inter)),
      |tp AS (SELECT cand.doc_a, cand.doc_b FROM cand
      |       WHERE EXISTS (SELECT 1 FROM exact e
      |                     WHERE e.doc_a = cand.doc_a AND e.doc_b = cand.doc_b))
      |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
      |  (SELECT COUNT(*) FROM cand) AS n_candidates,
      |  (SELECT COUNT(*) FROM tp) AS n_true_pos,
      |  ROUND(CAST((SELECT COUNT(*) FROM tp) AS DOUBLE) /
      |        (SELECT COUNT(*) FROM exact), 6) AS recall,
      |  ROUND(CAST((SELECT COUNT(*) FROM tp) AS DOUBLE) /
      |        (SELECT COUNT(*) FROM cand), 6) AS precision""".stripMargin

  /** Maximal Marginal Relevance reranking (Carbonell & Goldstein 1998) —
    * the diversified-retrieval step RAG pipelines and diverse-sampling data
    * curation run after top-k: greedily pick the candidate maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked. Greedy selection
    * is inherently sequential, but only over the per-query CANDIDATE set:
    * candidate generation is the blocked/ANN top-k (10 here) and each MMR
    * step is a constant-size per-query join — unrolled below for k=3,
    * λ=0.5, so the whole thing stays declarative (no driver loop, no UDF;
    * at 100 TB the candidate sets shard by q_id and every step is a
    * broadcast-size equi-join per query group).
    *
    * Exactness: relevance and pairwise sims are the proven decimal-cosine
    * kernel rounded to 6 (decimal_dot ≡ the DECIMAL(28,14) fold, pinned by
    * FunctionsSpec); λ=0.5 halving and the subtraction are exact IEEE ops
    * on identical doubles in both engines, so ranks and scores replicate
    * bit-for-bit in the oracle's unrolled SQL.
    */
  def qMmr(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val dcos = (a: String, b: String) => expr(
      s"round(decimal_dot($a, $b) / (SQRT(decimal_dot($a, $a)) * SQRT(decimal_dot($b, $b))), 6)")
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = broadcast(q).crossJoin(emb)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), col("embedding"),
        dcos("q_emb", "embedding").as("rel"))
    val wRel = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("vec_id"))
    // tiny (5×10 rows); Lineage.truncate stops the greedy joins re-scoring
    // the corpus and honors spark.graft.reliableCheckpoint
    val cands = graft.ops.Lineage.truncate(
      scored.withColumn("rk", row_number().over(wRel))
        .filter(col("rk") <= 10)
        .select(col("q_id"), col("vec_id"), col("embedding"), col("rel"), col("rk")))
    val pair = cands.select(col("q_id"), col("vec_id").as("a_id"), col("embedding").as("a_emb"))
      .join(cands.select(col("q_id"), col("vec_id").as("b_id"), col("embedding").as("b_emb")), "q_id")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"), dcos("a_emb", "b_emb").as("sim"))
    val s1 = cands.filter(col("rk") === 1)
      .select(col("q_id"), col("vec_id").as("s1_id"), col("rel").as("s1_score"))
    def argmax(scores: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
      scores.withColumn("ark", row_number().over(w)).filter(col("ark") === 1)
    }
    val p1 = pair.select(col("q_id").as("pq"), col("a_id"), col("b_id"), col("sim"))
    val step2 = argmax(
      cands.join(s1, "q_id").filter(col("vec_id") =!= col("s1_id"))
        .join(p1, col("q_id") === col("pq") && col("vec_id") === col("a_id") &&
          col("s1_id") === col("b_id"))
        .select(col("q_id"), col("vec_id"), col("rel"), col("s1_id"),
          (col("rel") * 0.5 - col("sim") * 0.5).as("score")))
      .select(col("q_id"), col("vec_id").as("s2_id"), col("score").as("s2_score"))
    val p2 = pair.select(col("q_id").as("pq2"), col("a_id").as("a_id2"),
      col("b_id").as("b_id2"), col("sim").as("sim2"))
    val step3 = argmax(
      cands.join(s1, "q_id").join(step2, "q_id")
        .filter(col("vec_id") =!= col("s1_id") && col("vec_id") =!= col("s2_id"))
        .join(p1, col("q_id") === col("pq") && col("vec_id") === col("a_id") &&
          col("s1_id") === col("b_id"))
        .join(p2, col("q_id") === col("pq2") && col("vec_id") === col("a_id2") &&
          col("s2_id") === col("b_id2"))
        .select(col("q_id"), col("vec_id"), col("rel"),
          (col("rel") * 0.5 - greatest(col("sim"), col("sim2")) * 0.5).as("score")))
      .select(col("q_id"), col("vec_id").as("s3_id"), col("score").as("s3_score"))
    s1.select(col("q_id"), lit(1L).as("step"), col("s1_id").as("vec_id"),
        round(col("s1_score"), 6).as("score"))
      .unionByName(step2.select(col("q_id"), lit(2L).as("step"),
        col("s2_id").as("vec_id"), round(col("s2_score"), 6).as("score")))
      .unionByName(step3.select(col("q_id"), lit(3L).as("step"),
        col("s3_id").as("vec_id"), round(col("s3_score"), 6).as("score")))
  }

  private def mmrDcosSql(a: String, b: String): String =
    s"ROUND(CAST(list_sum(list_transform(range(1, len($a) + 1), i -> " +
      s"CAST(CAST($a[CAST(i AS INT)] AS DOUBLE) * CAST($b[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE) " +
      s"/ (SQRT(CAST(list_sum(list_transform($a, x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE)) " +
      s"* SQRT(CAST(list_sum(list_transform($b, x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE))), 6)"

  val qMmrSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
      |sc AS (SELECT q.q_id, e.vec_id, e.embedding,
      |         ${mmrDcosSql("q.q_emb", "e.embedding")} AS rel
      |       FROM q, embeddings e WHERE e.vec_id <> q.q_id),
      |cand AS (SELECT * FROM (
      |           SELECT q_id, vec_id, embedding, rel,
      |             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rk
      |           FROM sc) WHERE rk <= 10),
      |pair AS (SELECT a.q_id, a.vec_id AS a_id, b.vec_id AS b_id,
      |           ${mmrDcosSql("a.embedding", "b.embedding")} AS sim
      |         FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
      |s1 AS (SELECT q_id, vec_id AS s1_id, rel AS s1_score FROM cand WHERE rk = 1),
      |m2 AS (SELECT c.q_id, c.vec_id, c.rel * 0.5 - p.sim * 0.5 AS score
      |       FROM cand c JOIN s1 ON c.q_id = s1.q_id AND c.vec_id <> s1.s1_id
      |       JOIN pair p ON p.q_id = c.q_id AND p.a_id = c.vec_id AND p.b_id = s1.s1_id),
      |s2 AS (SELECT q_id, vec_id AS s2_id, score AS s2_score FROM (
      |         SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS ark
      |         FROM m2) WHERE ark = 1),
      |m3 AS (SELECT c.q_id, c.vec_id,
      |         c.rel * 0.5 - GREATEST(p1.sim, p2.sim) * 0.5 AS score
      |       FROM cand c
      |       JOIN s1 ON c.q_id = s1.q_id AND c.vec_id <> s1.s1_id
      |       JOIN s2 ON c.q_id = s2.q_id AND c.vec_id <> s2.s2_id
      |       JOIN pair p1 ON p1.q_id = c.q_id AND p1.a_id = c.vec_id AND p1.b_id = s1.s1_id
      |       JOIN pair p2 ON p2.q_id = c.q_id AND p2.a_id = c.vec_id AND p2.b_id = s2.s2_id),
      |s3 AS (SELECT q_id, vec_id AS s3_id, score AS s3_score FROM (
      |         SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS ark
      |         FROM m3) WHERE ark = 1)
      |SELECT q_id, CAST(1 AS BIGINT) AS step, s1_id AS vec_id, ROUND(s1_score, 6) AS score FROM s1
      |UNION ALL
      |SELECT q_id, CAST(2 AS BIGINT), s2_id, ROUND(s2_score, 6) FROM s2
      |UNION ALL
      |SELECT q_id, CAST(3 AS BIGINT), s3_id, ROUND(s3_score, 6) FROM s3""".stripMargin

  def all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_mmr" -> ((qMmr _, Some(qMmrSql))),
    "q_lsh_recall" -> ((qLshRecall _, Some(qLshRecallSql))),
    "q_jaccard_join" -> ((qJaccardJoin _, Some(qJaccardJoinSql))),
    "q_semdedup" -> ((qSemdedup _, Some(qSemdedupSql))),
    "q_pq" -> ((qPq _, Some(qPqSql))),
    "q_ivf_pq" -> ((qIvfPq _, Some(qIvfPqSql))),
    "q_ivf_pq_recall" -> ((qIvfPqRecall _, Some(qIvfPqRecallSql))),
    "q_ivf_rerank" -> ((qIvfRerank _, Some(qIvfRerankSql))),
    "q_hard_negatives" -> ((qHardNegatives _, Some(qHardNegativesSql))),
    "q_minhash_est" -> ((qMinhashEstimate _, Some(qMinhashEstimateSql))),
    "q_quantize" -> ((qQuantize _, Some(qQuantizeSql))),
    "q_split" -> ((qSplit _, Some(qSplitSql))),
    "q_weighted_sample" -> ((qWeightedSample _, Some(qWeightedSampleSql))),
    "q_mixture_sample" -> ((qMixtureSample _, Some(qMixtureSampleSql))),
    "q_stratified_sample" -> ((qStratifiedSample _, Some(qStratifiedSampleSql))),
    "q_centroids" -> ((qCentroids _, Some(qCentroidsSql))),
    "q_pps_sample" -> ((qPpsSample _, Some(qPpsSampleSql))),
    "q_hash_sample" -> ((qHashSample _, Some(qHashSampleSql))),
    "q_minhash_lsh" -> ((qMinhashLsh _, Some(qMinhashLshSql))),
    "q_dedup_clusters" -> ((qDedupClusters _, Some(qDedupClustersSql))),
    "q_survivorship" -> ((qSurvivorship _, Some(qSurvivorshipSql))),
    "q_ngram_jaccard" -> ((qNgramJaccard _, Some(qNgramJaccardSql))),
    "q_containment" -> ((qContainment _, Some(qContainmentSql))),
    "q_simhash" -> ((qSimhash _, Some(qSimhashSql))),
    "q_winnow" -> ((qWinnow _, Some(qWinnowSql))),
    "q_cosine_topk" -> ((qCosineTopk _, Some(qCosineTopkSql))),
    "q_embedding_neardup" -> ((qEmbeddingNeardup _, Some(qEmbeddingNeardupSql))),
    "q_embedding_neardup_scaled" ->
      ((qEmbeddingNeardupScaled _, Some(qEmbeddingNeardupScaledSql))),
    "q_semdedup_scaled" -> ((qSemdedupScaled _, Some(qSemdedupScaledSql))),
    "q_semdedup_ivf" -> ((qSemdedupIvf _, Some(qSemdedupIvfSql)))
  )
}
