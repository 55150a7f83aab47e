package perfbench

import graft.drivers.{DestinationDriver, ParquetDestinationDriver}
import graft.exec.{CurationPipeline, Migration}
import graft.streaming.StreamingCuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** `stream_curation`: `StreamingCuration.start` over a seeded corpus
  * staged as several files, one file per trigger under `AvailableNow`.
  * One query at a time (closed loop); each op starts a fresh query with
  * fresh destination, mapping and checkpoint dirs over the same files.
  */
final class StreamCuration(spark: SparkSession, cfg: Config) extends Workload {
  private val docs = math.max(60L, (1500 * cfg.scale).toLong)
  private val files = 2
  private var dir = ""
  private def opBase(i: Int) = s"${cfg.work}/ops/op$i"
  private var lastOp = -1
  private lazy val schema = spark.read.parquet(s"$dir/corpus").schema

  def setup(i: Int): Unit = {
    dir = s"${cfg.work}/set$i"
    Docs.generate(spark, cfg.seed, docs, dupPct = 8, sources = 6)
      .write.mode("overwrite").parquet(s"$dir/corpus")
    Docs.stage(spark.read.parquet(s"$dir/corpus"), docs, files, s"$dir/staged", s"$dir/tmp")
  }

  /** One untimed query first, over a small corpus of its own in one
    * file: the first query in a JVM runs its batches cold, and they vary
    * the most.
    */
  override def warmUp(): Unit = {
    val w = s"${cfg.work}/warmup"
    val n = math.max(20L, docs / 8)
    Docs.generate(spark, cfg.seed + 1, n, dupPct = 8, sources = 6)
      .write.mode("overwrite").parquet(s"$w/corpus")
    Docs.stage(spark.read.parquet(s"$w/corpus"), n, 1, s"$w/staged", s"$w/tmp")
    val in = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(s"$w/staged")
    val q = StreamingCuration.start(in, s"$w/base", s"$w/ckpt")
    try q.awaitTermination() finally q.stop()
  }

  def rootLayer: String = "streaming"
  def pathLayers: Seq[(String, String)] = {
    val b = opBase(lastOp)
    Seq(s"$b/base/map/" -> "mapper", s"$b/base/stages/" -> "drivers", s"$b/base/landed/" -> "streaming")
  }
  def writeDirs: Seq[String] = Seq(s"${cfg.work}/ops")

  def op(i: Int, tracer: Option[Tracer]): OpStats = {
    lastOp = i
    val b = opBase(i)
    val dests: Migration => DestinationDriver = tracer match {
      case None => null // the program's own default
      case Some(t) => _ => new TracedStageDest(new ParquetDestinationDriver, t)
    }
    val (progress, wall) = Util.timed {
      val in = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/staged")
      val q = StreamingCuration.start(in, s"$b/base", s"$b/ckpt", dests = dests)
      try q.awaitTermination() finally q.stop()
      q.recentProgress.toSeq
    }
    val batches = progress.filter(_.numInputRows > 0)
    def ms(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
    val trig = batches.map(ms(_, "triggerExecution"))
    val add = batches.map(ms(_, "addBatch"))
    // numInputRows over-counts under foreachBatch (the batch frame is
    // evaluated more than once), so rows are counted where they landed
    val landed = StreamingCuration.landedCorpus(spark, s"$b/base").count()
    val failures =
      if (batches.size != files || landed != docs)
        Seq(s"op $i: ${batches.size} batches / $landed landed rows, expected $files / $docs")
      else Nil
    val n = math.max(1, batches.size)
    OpStats(wall, docs, trig, trig.lastOption.getOrElse(0.0), failures, Map(
      "streaming.overhead_s" -> trig.zip(add).map { case (t, a) => t - a }.sum / n,
      "streaming.add_batch_s" -> add.sum / n,
      "streaming.batches" -> batches.size.toDouble))
  }

  /** Files the stages wrote, and the rows the mix stage's orphan pass
    * pruned: the mix publishes one generation per batch, so a row of
    * one generation whose `did` is missing from the next was evicted.
    */
  override def readBack(i: Int): Map[String, Double] = {
    val b = opBase(i)
    val mix = CurationPipeline.migrations(s"$b/base/stages").last.spec
    val gens = new ParquetDestinationDriver().generations(spark, mix)
      .map(g => spark.read.parquet(s"${mix.destination}/gen$g").select("did"))
    val pruned = gens.zip(gens.drop(1)).map { case (prev, next) => prev.except(next).count() }.sum
    Map("drivers.files_written" -> Util.du(new java.io.File(s"$b/base/stages"))._2.toDouble,
      "exec.orphans" -> pruned.toDouble)
  }

  /** The curated state's rollup, for the DuckDB reference replay of
    * `Shared.LlmCurationRollupSql` over the generated corpus.
    */
  def check(): Seq[String] = {
    val cur = StreamingCuration.curated(spark, s"${opBase(lastOp)}/base")
    cur match {
      case None => Seq("no curated snapshot")
      case Some(df) =>
        df.groupBy(col("source"), col("predicted_lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
            min(col("did")).as("min_did"), max(col("did")).as("max_did"))
          .coalesce(1).write.mode("overwrite").parquet(s"${cfg.work}/check/stream_llm_rollup")
        Nil
    }
  }

  override def duck: Map[String, Any] = Map(
    "tables" -> Map("documents" -> s"$dir/corpus"),
    "queries" -> Seq(Map("name" -> "stream_llm_rollup",
      "sql" -> graft.queries.Shared.LlmCurationRollupSql,
      "result" -> s"${cfg.work}/check/stream_llm_rollup")))

  def describe: Map[String, Any] = Map("seed" -> cfg.seed, "documents" -> docs, "files" -> files,
    "input_mb" -> Util.duMb(Seq(s"$dir/staged")))
}
