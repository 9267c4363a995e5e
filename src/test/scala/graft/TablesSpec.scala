package graft

import org.apache.spark.sql.functions._

/** Pins Tables.load's scan fan-out guard: the single-row-group mitigation
  * (repartition after the scan) must fire ONLY for the few-big-files shape
  * the driver's testdata has — a many-part directory table (production
  * shape, the 100× synthetic) must scan without a full-table round-robin
  * shuffle, and sub-MB single files (dimension tables) must stay
  * single-partition broadcast fodder. Also pins that a load's footer
  * schema is the one inference gives, at no Spark job.
  */
class TablesSpec extends SparkSpec {

  // r15: the fan-out is a HASH repartition on the table's leading column
  // (no round-robin pre-sort; downstream id-keyed operators reuse the
  // clustering), so the guard is any explicit repartition operation —
  // keyed (RepartitionByExpression) or keyless (Repartition).
  private def hasFanout(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => r
    }.nonEmpty

  private def writeTable(dir: String, name: String, parts: Int): Unit = {
    val df = spark.range(200000)
      .select(col("id"), xxhash64(col("id")).as("h"))
    df.repartition(parts).write.parquet(s"$dir/$name.parquet")
  }

  test("big few-file table fans out; many-part table does not") {
    val dir = tmpDir("tables-fanout")
    writeTable(dir, "single", 1)
    writeTable(dir, "many", 8)
    assert(hasFanout(Tables.load(spark, dir, "single")),
      "big single-file table should repartition after the scan")
    assert(!hasFanout(Tables.load(spark, dir, "many")),
      "a many-part table must NOT pay a full-table shuffle off the scan")
  }

  test("sub-threshold dimension table stays single-partition") {
    val dir = tmpDir("tables-dim")
    spark.range(10).select(col("id")).coalesce(1)
      .write.parquet(s"$dir/dim.parquet")
    val df = Tables.load(spark, dir, "dim")
    assert(!hasFanout(df), "tiny table must not fan out")
    assert(df.rdd.getNumPartitions == 1)
  }

  test("load takes the inferred schema from one footer and starts no Spark job") {
    val dir = tmpDir("tables-footer")
    val typed = spark.range(60).select(col("id"),
      (col("id") * lit(BigDecimal("1.25"))).cast("decimal(28,14)").as("dec"),
      timestamp_seconds(col("id") + 1700000000L).as("ts"),
      array(struct(col("id").as("a"), col("id").cast("string").as("b"))).as("arr"),
      map(lit("k"), col("id")).as("m"), lit(7).as("seven"), (col("id") % 3).as("p"))
    typed.repartition(3).write.parquet(s"$dir/multi.parquet")
    typed.repartition(2).write.partitionBy("p").parquet(s"$dir/parted.parquet")
    val tables = Tables.names.map(sfDir -> _) ++ Seq(dir -> "multi", dir -> "parted")
    tables.foreach { case (d, n) =>
      val path = s"$d/$n.parquet"
      val inferred = spark.read.parquet(path).schema
      if (n != "parted") assert(Tables.schemaOf(spark, path).contains(inferred), path)
      assert(Tables.read(spark, path).schema == inferred, path)
      assert(jobsIn(Tables.load(spark, d, n).schema) == 0, path)
    }
    assert(Tables.schemaOf(spark, s"$dir/missing.parquet").isEmpty)
  }

  test("results identical with and without the fan-out") {
    val dir = tmpDir("tables-eq")
    writeTable(dir, "t", 1)
    val sum1 = Tables.load(spark, dir, "t")
      .agg(sum(pmod(col("h"), lit(1000000)))).collect()(0).getLong(0)
    val sum2 = spark.read.parquet(s"$dir/t.parquet")
      .agg(sum(pmod(col("h"), lit(1000000)))).collect()(0).getLong(0)
    assert(sum1 == sum2)
  }
}
