package perfbench

import graft.Engine
import graft.queries.{DedupQueries, RetrievalLayouts}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Seeded tables in the layout `graft.Engine` reads: documents and
  * embeddings sized for the workload, and small stand-ins for the other
  * registered tables (the engine registers every table as a view).
  */
object QueryData {
  def generate(spark: SparkSession, seed: Long, docs: Long, dir: String): Unit = {
    def w(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    w("documents", Docs.generate(spark, seed, docs, dupPct = 2, sources = 20))
    // clustered unit-scale vectors: centroid of the label plus noise
    w("embeddings", spark.range(0, docs, 1, 4).select(col("id").as("vec_id"),
      expr(s"CAST(pmod(xxhash64(${seed}L, 'label', id), 10) AS INT)").as("label"))
      .select(col("vec_id"), expr(
        s"""transform(sequence(0, 63), j -> CAST(
           |  (pmod(xxhash64(${seed}L, 'c', label, j), 2001) - 1000) / 1000.0
           |  + 0.35 * (pmod(xxhash64(${seed}L, 'n', vec_id, j), 2001) - 1000) / 1000.0 AS FLOAT))""".stripMargin)
        .as("embedding"), col("label")))
    def small(n: Long) = spark.range(0, n, 1, 1)
    w("region", small(5).selectExpr("CAST(id AS INT) r_regionkey", "concat('region', id) r_name"))
    w("nation", small(25).selectExpr("CAST(id AS INT) n_nationkey", "concat('nation', id) n_name",
      "CAST(id % 5 AS INT) n_regionkey"))
    w("customer", small(150).selectExpr("id + 1 c_custkey", "concat('Customer#', id + 1) c_name",
      "CAST(id % 25 AS INT) c_nationkey", "CAST(id * 7 % 10000 AS DOUBLE) c_acctbal",
      "element_at(array('BUILDING','MACHINERY','AUTOMOBILE'), CAST(id % 3 + 1 AS INT)) c_mktsegment"))
    w("supplier", small(10).selectExpr("id + 1 s_suppkey", "concat('Supplier#', id + 1) s_name",
      "CAST(id % 25 AS INT) s_nationkey", "CAST(id * 13 % 10000 AS DOUBLE) s_acctbal"))
    w("part", small(200).selectExpr("id + 1 p_partkey", "concat('part', id) p_name",
      "concat('Brand#', id % 5) p_brand", "concat('TYPE', id % 7) p_type", "CAST(id % 50 AS INT) p_size",
      "CAST(900 + id AS DOUBLE) p_retailprice"))
    w("orders", small(1500).selectExpr("id + 1 o_orderkey", "id % 150 + 1 o_custkey",
      "element_at(array('O','F','P'), CAST(id % 3 + 1 AS INT)) o_orderstatus",
      "CAST(id * 31 % 100000 AS DOUBLE) o_totalprice",
      "timestamp_seconds(757382400 + id * 86400) o_orderdate", "concat(id % 5 + 1, '-PRIO') o_orderpriority"))
    w("lineitem", small(6000).selectExpr("id % 1500 + 1 l_orderkey", "id % 200 + 1 l_partkey",
      "id % 10 + 1 l_suppkey", "CAST(id % 7 + 1 AS INT) l_linenumber", "CAST(id % 50 + 1 AS DOUBLE) l_quantity",
      "CAST(id * 17 % 100000 AS DOUBLE) l_extendedprice", "CAST(id % 10 / 100.0 AS DOUBLE) l_discount",
      "CAST(id % 8 / 100.0 AS DOUBLE) l_tax", "element_at(array('A','N','R'), CAST(id % 3 + 1 AS INT)) l_returnflag",
      "element_at(array('F','O'), CAST(id % 2 + 1 AS INT)) l_linestatus",
      "timestamp_seconds(757382400 + id * 3600) l_shipdate"))
    w("events", small(1000).selectExpr("id event_id", "timestamp_seconds(1700000000 + id * 60) ts",
      "id % 97 user_id", "element_at(array('view','click','buy'), CAST(id % 3 + 1 AS INT)) event_type",
      "CAST(id % 100 AS DOUBLE) value", "'{}' props"))
  }
}

/** `query_layouts`: consumers of the seven shared layouts through
  * `Engine.run`, with the layouts warmed in set-up through the public
  * `warm*` functions. One op is one pass: a dedup query per dedup layout
  * (shingles, near-duplicate edges, windows), then the five queries of
  * the BM25 retrieval/eval family, which share the index, score, label
  * and fusion layouts.
  */
final class QueryLayouts(spark: SparkSession, cfg: Config) extends Workload {
  private val docs = math.max(200L, (600 * cfg.scale).toLong)
  private val Dedup = Seq("dedup_ngram_jaccard", "dedup_clusters", "dedup_substring")
  private val Retrieval =
    Seq("text_probe_bm25", "text_mmr_diversify", "eval_ndcg", "eval_mrr", "text_hybrid_rrf")
  private val names = Dedup ++ Retrieval
  override def setupRepeats: Int = 1
  private var dir = ""
  private var engine: Engine = _
  private val lastRows = scala.collection.mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
  private val layoutS = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)

  def setup(i: Int): Unit = {
    val d = s"${cfg.work}/set$i"
    dir = d
    QueryData.generate(spark, cfg.seed, docs, d)
    engine = Engine(spark, d)
    val warms: Seq[(String, () => Long)] = Seq(
      "shingles" -> (() => DedupQueries.warmShingles(spark, d)),
      "edges" -> (() => DedupQueries.warmEdges(spark, d)),
      "windows" -> (() => DedupQueries.warmWindows(spark, d)),
      "bm25_index" -> (() => RetrievalLayouts.warmBm25Index(spark, d)),
      "bm25_scores" -> (() => RetrievalLayouts.warmBm25Scores(spark, d)),
      "probe_rels" -> (() => RetrievalLayouts.warmProbeRels(spark, d)),
      "hybrid_fused" -> (() => RetrievalLayouts.warmHybridFused(spark, d)))
    warms.foreach { case (n, f) => layoutS(n) = layoutS(n) :+ Util.timed(f())._2 }
  }

  /** One untimed pass first: the first run of each query's own plan in
    * the JVM compiles its code, and varies the most.
    */
  override def warmUp(): Unit = names.foreach(n => engine.run(n).collect())

  override def setupLayers: Map[String, Double] =
    layoutS.map { case (n, xs) => s"queries.layout_s.$n" -> Util.median(xs) }.toMap

  def rootLayer: String = "bench"
  def pathLayers: Seq[(String, String)] = Nil
  def writeDirs: Seq[String] = Seq(s"${cfg.work}/tmp")

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => planNodes(q.plan)
      case other => other.children.flatMap(planNodes)
    }
    p +: (here ++ p.subqueries.flatMap(planNodes))
  }

  def op(i: Int, tracer: Option[Tracer]): OpStats = {
    var exchanges, cached, leaves = 0
    var dedupS, retrievalS = 0.0
    val walls = names.map { n =>
      val ((rows, df), s) = Util.timed {
        def body = { val df = engine.run(n); (df.collect(), df) }
        tracer.fold(body)(t => t.span("queries", n, 1)(body))
      }
      lastRows(n) = (rows, df.schema)
      if (Retrieval.contains(n)) retrievalS += s else dedupS += s
      if (tracer.nonEmpty) {
        val nodes = planNodes(df.queryExecution.executedPlan)
        exchanges += nodes.count(_.isInstanceOf[Exchange])
        val ls = nodes.filter(x => x.children.isEmpty && !x.isInstanceOf[QueryStageExec])
        leaves += ls.size
        cached += ls.count(_.isInstanceOf[InMemoryTableScanExec])
      }
      s
    }
    OpStats(walls.sum, docs * names.size, walls, retrievalS, Nil, Map(
      "queries.dedup_s" -> dedupS, "queries.retrieval_s" -> retrievalS,
      "queries.exchanges" -> exchanges.toDouble,
      "queries.cache_hit_ratio" -> (if (leaves > 0) cached.toDouble / leaves else 0.0)))
  }

  /** Writes the last pass's results for the DuckDB replay of each
    * query's reference SQL.
    */
  def check(): Seq[String] = {
    lastRows.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"${cfg.work}/check/$n")
    }
    names.filter(n => engine.referenceSql(n).isEmpty).map(n => s"$n has no reference SQL")
  }

  override def duck: Map[String, Any] = Map(
    "tables" -> Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").map(t => t -> s"$dir/$t.parquet").toMap,
    "queries" -> names.flatMap(n => engine.referenceSql(n).map(sql =>
      Map("name" -> n, "sql" -> sql, "result" -> s"${cfg.work}/check/$n"))))

  def describe: Map[String, Any] = Map("seed" -> cfg.seed, "documents" -> docs,
    "queries" -> names.size, "input_mb" -> Util.duMb(Seq(dir)))
}
