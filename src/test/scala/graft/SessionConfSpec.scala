package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.graft.CodegenCacheBridge

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
    // the two streaming gates drain into Spark's memory sink, which
    // registers its query name as a temp view on the session
    Seq("q_ann_ivf_kernel", "q_embedding_neardup", "q_recursive", "q_stream_tumbling",
      "q_stream_curation").foreach(q => SparkEntry.queries(q)(s, sfDir).collect())
    assert(s.experimental.extraOptimizations == rules)
    assert(tables == before)
  }

  test("a second registry_mix pass reuses the classes the first pass compiled") {
    // The nine queries of e2ebench's registry_mix workload, run as its ops
    // run them: each collected, from a clean cache.
    val mix = Seq("q_edit_distance", "q_dedup_clusters", "q_ann_ivf_kernel", "q_cosine_topk",
      "q_stream_tumbling", "q_asof_join", "q_asof_native", "q_curation_pipeline", "q5_multi_join")
    def pass(): Long = {
      val c0 = Probe.compiles()
      mix.foreach { q =>
        spark.catalog.clearCache()
        graft.queries.LearnQueries.clearMemo()
        SparkEntry.queries(q)(spark, sfDir).collect()
      }
      Probe.compiles() - c0
    }
    // Earlier specs in this JVM may have compiled some of these classes.
    CodegenCacheBridge.clear()
    val first = pass()
    // Spark sizes the cache once per JVM, at the first compile: a smaller
    // cache than the pass means something compiled before SessionConf
    // built the session.
    assert(CodegenCacheBridge.size >= first,
      s"the cache holds ${CodegenCacheBridge.size} of the $first classes the pass compiled")
    val second = pass()
    assert(second * 10 <= first, s"first pass compiled $first classes, the second $second")
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
