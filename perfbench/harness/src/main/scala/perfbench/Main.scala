package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
    scale: Double, work: String, out: String)

/** What one timed operation reports. `batches` are the operation's units
  * of progress (migrations, micro-batches or queries); `last` is the wall
  * of its final unit.
  */
final case class OpStats(wall: Double, rows: Long, batches: Seq[Double], last: Double,
    failures: Seq[String], extra: Map[String, Double] = Map.empty)

/** A benchmark workload. `setup(i)` is one repetition of its set-up
  * (timed, repeated, median reported); `op` is one timed operation.
  */
trait Workload {
  /** How many times `setup` runs; the median is reported. */
  def setupRepeats: Int = 3
  /** The fewest timed ops of an untraced run, whatever `--seconds` says. */
  def minOps: Int = 1
  def setup(i: Int): Unit
  /** Untimed work between set-up and the timed ops (JIT and codegen
    * warm-up for the op's own plan shapes), reported as `warmup_s`.
    */
  def warmUp(): Unit = ()
  def op(i: Int, tracer: Option[Tracer]): OpStats
  /** The layer that owns an op's time outside every deeper span. */
  def rootLayer: String
  /** Directories a traced op's SQL writes are classified by. */
  def pathLayers: Seq[(String, String)]
  /** Directories whose growth an op's `write_mb` counts. */
  def writeDirs: Seq[String]
  /** Correctness checks outside the timed section; messages = failures. */
  def check(): Seq[String]
  /** Seed, sizes and input bytes, echoed in the output. */
  def describe: Map[String, Any]
  /** DuckDB references for the checker: `tables` (view name → parquet
    * path) and `queries` (name, reference SQL, Spark result dir).
    */
  def duck: Map[String, Any] = Map.empty
  /** Per-layer counts read back from a traced op's output after its
    * span closed, so the reading costs the op nothing.
    */
  def readBack(i: Int): Map[String, Double] = Map.empty
  /** Per-layer metrics measured in set-up (0 where not applicable). */
  def setupLayers: Map[String, Double] = Map.empty
}

object Main {

  def parse(argv: Seq[String]): Config = {
    val m = argv.grouped(2).map { case Seq(k, v) => k.stripPrefix("--") -> v }.toMap
    Config(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.getOrElse("scale", "1").toDouble, m("work"), m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val cfg = parse(argv.toIndexedSeq)
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Util.seconds(t0, System.nanoTime())
    try {
      val w: Workload = cfg.workload match {
        case "migrate_initial" => new MigrateInitial(spark, cfg)
        case "stream_curation" => new StreamCuration(spark, cfg)
        case "query_layouts" => new QueryLayouts(spark, cfg)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val result = run(spark, cfg, w, sessionS, cores)
      Util.writeFile(cfg.out, Util.json(result ++ Map("jvm_s" -> Util.seconds(t0, System.nanoTime()))))
    } finally spark.stop()
  }

  private def heldMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Runs `op` at least `minOps` times, then while another op as long as
    * the last one still ends within `seconds`, so that an op length near
    * `seconds` does not make the op count vary from run to run.
    */
  private def loop(seconds: Double, first: Int, minOps: Int)(
      op: Int => OpStats): Seq[OpStats] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[OpStats]
    var lastNs = 0L
    while (out.size < minOps || System.nanoTime() + lastNs <= deadline) {
      val i = first + out.size
      val t0 = System.nanoTime()
      out += (try op(i) catch {
        case e: Exception =>
          OpStats(0, 0, Nil, 0, Seq(s"op $i threw ${e.getClass.getName}: ${e.getMessage}"))
      })
      lastNs = System.nanoTime() - t0
    }
    out.toSeq
  }

  def run(spark: SparkSession, cfg: Config, w: Workload, sessionS: Double,
      cores: Int): Map[String, Any] = {
    val setupS = (0 until w.setupRepeats).map(i => Util.timed(w.setup(i))._2)
    val warmupS = Util.timed(w.warmUp())._2
    val base = Map[String, Any](
      "workload" -> cfg.workload, "seed" -> cfg.seed, "cores" -> cores,
      "input" -> w.describe, "setup_repeats_s" -> setupS, "session_start_s" -> sessionS,
      "warmup_s" -> warmupS)

    if (!cfg.trace) {
      val ops = loop(cfg.seconds, 0, w.minOps)(w.op(_, None))
      val good = ops.filter(_.failures.isEmpty)
      val metrics: Map[String, Double] =
        if (good.isEmpty) Map.empty
        else Map(
          "setup_s" -> (sessionS + Util.median(setupS)),
          "run_s" -> Util.median(good.map(_.wall)),
          "rows_per_s" -> Util.median(good.map(o => o.rows / o.wall)),
          "batch_p50_s" -> Util.median(good.flatMap(_.batches)),
          "last_batch_s" -> Util.median(good.map(_.last)))
      base ++ result(ops, w, metrics)
    } else {
      // half the time untraced (the overhead baseline; set-up and the
      // warm-up already ran), then half with the driver decorators, the
      // listener and spans
      val plain = loop(cfg.seconds / 2, 0, 1)(w.op(_, None))
      val tracer = new Tracer
      val listener = new BenchListener(() => w.pathLayers)
      spark.sparkContext.addSparkListener(listener)
      val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
      val traceFailures = mutable.ArrayBuffer.empty[String]
      val traced = loop(cfg.seconds / 2, plain.size, 1) { i =>
        val writtenBefore = Util.duMb(w.writeDirs)
        val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
        val s = tracer.span(w.rootLayer, "op", 0)(w.op(i, Some(tracer)))
        // what the op left behind, read after its span
        val left = Map(
          "disk.write_mb" -> (Util.duMb(w.writeDirs) - writtenBefore),
          "exec.held_mb" -> heldMb(spark),
          "exec.pinned_rdds" -> (spark.sparkContext.getPersistentRDDs.size - pinnedBefore).toDouble)
        listener.drain()
        // a write whose output path is not recognised would silently
        // shift its layer's time and bytes to `exec`
        if (s.failures.isEmpty) traceFailures ++= w.pathLayers.map(_._2).distinct
          .filterNot(listener.classified.contains)
          .map(l => s"traced op $i: no SQL execution wrote under the $l directories")
        val spans = tracer.all ++ listener.sqlSpans
        val root = spans.filter(_.depth == 0).maxBy(_.start)
        perOp += Layers.fromOp(w, s, root, spans.filter(_.depth > 0), listener, cores) ++
          left ++ w.readBack(i)
        tracer.clear(); listener.reset()
        s
      }
      spark.sparkContext.removeSparkListener(listener)
      val layers = perOp.flatMap(_.keys).distinct
        .map(k => k -> perOp.map(_.getOrElse(k, 0.0)).sum / perOp.size).toMap
      val metrics = Layers.complete(layers ++ w.setupLayers ++ Map(
        "trace.overhead_s" ->
          (Util.median(traced.map(_.wall)) - Util.median(plain.map(_.wall)))))
      base ++ result(plain ++ traced, w, metrics, traceFailures.toSeq)
    }
  }

  private def result(ops: Seq[OpStats], w: Workload, metrics: Map[String, Double],
      traceFailures: Seq[String] = Nil): Map[String, Any] = {
    val (checked, checkS) = Util.timed(w.check())
    Map("attempted" -> ops.size,
      "failed" -> ops.count(_.failures.nonEmpty), "op_walls_s" -> ops.map(_.wall),
      "failures" -> (ops.flatMap(_.failures) ++ checked ++ traceFailures), "check_s" -> checkS, "duck" -> w.duck,
      "metrics" -> metrics)
  }
}
