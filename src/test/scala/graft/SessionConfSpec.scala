package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

class SessionConfSpec extends SparkSpec {

  test("events and streaming queries leave the session conf as they found it") {
    val s = spark.newSession()
    val before = s.conf.getAll
    Seq("q_stream_tumbling", "q_stream_curation", "q_sessionize", "q_recursive")
      .foreach(q => SparkEntry.queries(q)(s, sfDir).collect())
    Tables.events(s, sfDir).count()
    assert(s.conf.getAll == before)
  }

  test("vector and recursive queries add no optimizer rule or temp view") {
    val s = spark.newSession()
    val rules = s.experimental.extraOptimizations
    def tables = s.catalog.listTables().collect().map(_.name).toSet
    val before = tables
    Seq("q_ann_ivf_kernel", "q_embedding_neardup", "q_recursive")
      .foreach(q => SparkEntry.queries(q)(s, sfDir).collect())
    assert(s.experimental.extraOptimizations == rules)
    assert(tables == before)
  }

  test("SessionConf is the only place under src/ that builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val st = Files.walk(Paths.get("src"))
    val hits: Seq[Path] =
      try st.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
        .toSeq
      finally st.close()
    assert(hits.map(_.getFileName.toString) == Seq("SessionConf.scala"), hits.mkString(", "))
  }
}
