package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N× synthetic generator for the scale rehearsal (SCALE.md): unions N
  * key-shifted, per-copy-salted copies of the tables the similarity family
  * reads (documents, embeddings, part). The salting rules preserve
  * INTRA-copy similarity structure exactly while preventing cross-copy
  * collisions, so candidate-pair volume scales ~linearly with N — the way
  * a genuinely N× corpus behaves — rather than quadratically, the artifact
  * naive duplication would inject:
  *
  *  - documents: copy i>0 suffixes every whitespace token with "0ci" (the
  *    source corpus is digit-free, so the digit makes the salt collision-
  *    free against natural tokens, and it is alphanumeric so tokenizer-
  *    lifecycle ops — BPE requires alphanumeric symbols — accept the
  *    salted corpus); shingle sets of different copies are DISJOINT while
  *    Jaccard/minhash relations within a copy stay isomorphic to the
  *    original; n_chars is recomputed from the salted text.
  *  - embeddings: copy i cyclically rotates the vector by i positions
  *    (norms and intra-copy dot products exactly preserved; cross-copy
  *    cosine decorrelates) and shifts the IVF/SemDeDup cluster label, so
  *    cluster COUNT grows N× at constant cluster size.
  *  - part: copy i suffixes p_brand with "#i", so the (brand × length-band)
  *    blocking keys of the fuzzy-match family never collide across copies.
  *
  * Copy 0 is byte-identical to the source, keeping the rehearsal dir a
  * strict superset of the bench dir.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <outDir> [copies (default 10)]
  */
object ScaleUp {

  private val KeyOffset = 10000000L

  def documentsCopy(src: DataFrame, i: Int): DataFrame =
    if (i == 0) src
    else src.select(
      (col("doc_id") + lit(i * KeyOffset)).as("doc_id"),
      array_join(transform(split(col("text"), " "),
        w => concat(w, lit(s"0c$i"))), " ").as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  def embeddingsCopy(src: DataFrame, i: Int): DataFrame =
    if (i == 0) src
    else src.select(
      (col("vec_id") + lit(i * KeyOffset)).as("vec_id"),
      expr(s"transform(sequence(0, size(embedding) - 1), j -> embedding[(j + $i) % size(embedding)])")
        .as("embedding"),
      (col("label") + lit(i * 100000)).cast("int").as("label"))

  def partCopy(src: DataFrame, i: Int): DataFrame =
    if (i == 0) src
    else src.select(
      (col("p_partkey") + lit(i * KeyOffset)).as("p_partkey"),
      col("p_name"),
      concat(col("p_brand"), lit(s"#$i")).as("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice"))

  /** Relational/event tables for the graph/sketch/layout rehearsals: all
    * join keys shift together (order→custkey→suppkey→partkey), so each
    * copy is a DISJOINT replica of the original relational graph — the
    * customer–supplier communities, user frequency keys, and (partkey,
    * suppkey) grid cells grow 10× in COUNT at constant per-copy
    * structure, exactly how a genuinely N× business corpus behaves.
    */
  def ordersCopy(src: DataFrame, i: Int): DataFrame =
    if (i == 0) src
    else src.select(
      (col("o_orderkey") + lit(i * KeyOffset)).as("o_orderkey"),
      (col("o_custkey") + lit(i * KeyOffset)).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))

  def lineitemCopy(src: DataFrame, i: Int): DataFrame =
    if (i == 0) src
    else src.select(
      (col("l_orderkey") + lit(i * KeyOffset)).as("l_orderkey"),
      (col("l_partkey") + lit(i * KeyOffset)).as("l_partkey"),
      (col("l_suppkey") + lit(i * KeyOffset)).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate"))

  def eventsCopy(src: DataFrame, i: Int): DataFrame =
    if (i == 0) src
    else src.select(
      (col("event_id") + lit(i * KeyOffset)).as("event_id"),
      col("ts"),
      (col("user_id") + lit(i * KeyOffset)).as("user_id"),
      col("event_type"), col("value"), col("props"))

  /** customer/supplier scale WITH the fact tables (their keys are what the
    * shifted o_custkey/l_suppkey reference), so join fan-in stays realistic
    * at N× — every fact row still finds its dimension row. nation/region
    * are copied VERBATIM (below): they are genuinely fixed-cardinality
    * dims (25/5 rows) whose broadcast plans must stay broadcast at any
    * scale, so the N× dir keeps them constant and the nationkey spread of
    * copy i>0 customers is preserved by not shifting c_nationkey.
    */
  def customerCopy(src: DataFrame, i: Int): DataFrame =
    if (i == 0) src
    else src.select(
      (col("c_custkey") + lit(i * KeyOffset)).as("c_custkey"),
      col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))

  def supplierCopy(src: DataFrame, i: Int): DataFrame =
    if (i == 0) src
    else src.select(
      (col("s_suppkey") + lit(i * KeyOffset)).as("s_suppkey"),
      col("s_name"), col("s_nationkey"), col("s_acctbal"))

  def identityCopy(src: DataFrame, i: Int): DataFrame = src

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcDir> <outDir> [copies]")
    val (srcDir, outDir) = (args(0), args(1))
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = SessionConf.local()
    val gens: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
      "documents" -> documentsCopy,
      "embeddings" -> embeddingsCopy,
      "part" -> partCopy,
      "orders" -> ordersCopy,
      "lineitem" -> lineitemCopy,
      "events" -> eventsCopy,
      "customer" -> customerCopy,
      "supplier" -> supplierCopy,
      // fixed-cardinality dims: constant at any scale (see customerCopy doc)
      "region" -> identityCopy,
      "nation" -> identityCopy)
    val verbatim = Set("region", "nation")
    for ((table, gen) <- gens) {
      val src = spark.read.parquet(s"$srcDir/$table.parquet")
      val nCopies = if (verbatim(table)) 1 else copies
      val out = (0 until nCopies).map(gen(src, _)).reduce(_.unionAll(_))
      out.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      println(s"[scaleup] $table: ${src.count()} -> ${spark.read.parquet(s"$outDir/$table.parquet").count()} rows")
    }
    spark.stop()
  }
}
