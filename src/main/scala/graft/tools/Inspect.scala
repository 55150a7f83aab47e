package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Dev tool: time a named query and optionally dump its formatted plan.
  * Run via `java -cp "<spark jars glob>:target/scala-2.13/classes"
  * graft.tools.Inspect <queryName> <sfDir> [explain]`.
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val explain = args.contains("explain")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // pseudo-name for the shared bounded-edge layout (not a registry
    // query — the bench times it as layout_edges): run1 warms the shared
    // shingle layout, so run2 isolates the edge build itself
    val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      if (name == "layout_edges_frame") { (s, sf) =>
        graft.ops.Dedup.ngramJaccardEdgesBounded(
          graft.queries.Tables.load(s, sf, "documents"), "text", "doc_id",
          k = 5, minJaccard = 0.8,
          precomputedShingles = Some(graft.queries.Layouts.layout("shingles").frame(s, sf)))
      } else SparkEntry.queries(name)
    // GRAFT_WARM_RETRIEVAL=1: materialize the shared retrieval layouts
    // first (the state the bench's layout_bm25_* entries establish), so
    // the explained consumer plan shows the InMemoryTableScan it
    // actually executes in the suite, not the one-time build lineage
    if (sys.env.get("GRAFT_WARM_RETRIEVAL").contains("1"))
      Seq("bm25_index", "bm25_scores", "probe_rels", "hybrid_fused")
        .foreach(graft.queries.Layouts.warm(spark, sfDir, _))
    if (explain) fn(spark, sfDir).explain("formatted")
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      // noop sink (optimization guide §1.4): computes every column of
      // every row and discards it — a bare count() lets Catalyst prune
      // the projection (a regex query times as a parquet row count)
      spark.sparkContext.setJobDescription(s"inspect: $name run$i")
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.sparkContext.setJobDescription(null)
      println(f"[$name] run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s (noop sink)")
    }
    spark.stop()
  }
}
