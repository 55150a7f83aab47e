package perfbench

/** The per-layer metrics of a traced op, named `<module>.<measure>`
  * after the repository's modules (cli/exec, mapper, drivers, streaming,
  * queries) plus Spark's own task accounting.
  */
object Layers {
  val Stages = Seq("llm_ingest", "llm_dedup", "llm_quality", "llm_langid", "llm_mix")
  val LayoutNames = Seq("shingles", "edges", "windows", "bm25_index", "bm25_scores",
    "probe_rels", "hybrid_fused")
  val SelfLayers = Seq("exec", "drivers", "mapper", "streaming", "queries", "bench")

  /** Every per-layer metric name (units are declared in BENCHMARK.json). */
  val Names: Seq[String] = Seq(
    "drivers.write_s", "drivers.write_mb", "drivers.files_written", "drivers.read_mb",
    "drivers.snapshot_s",
    "mapper.record_s", "mapper.record_mb", "mapper.rows_written", "mapper.rewrite_ratio",
    "exec.shuffle_mb", "exec.spill_mb", "exec.orphans", "exec.other_s", "exec.jobs",
    "exec.pinned_rdds", "exec.held_mb", "disk.write_mb",
    "streaming.jobs_per_batch", "streaming.overhead_s", "streaming.add_batch_s",
    "streaming.land_s") ++
    Stages.map(s => s"streaming.stage_s.$s") ++
    LayoutNames.map(l => s"queries.layout_s.$l") ++ Seq(
    "queries.dedup_s", "queries.retrieval_s", "queries.scan_mb", "queries.exchanges",
    "queries.cache_hit_ratio",
    "spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.cpu_util") ++
    SelfLayers.map(l => s"self_s.$l") ++ Seq("trace.wall_s", "trace.overhead_s")

  /** Exactly the names above; a metric a workload does not exercise is 0. */
  def complete(m: Map[String, Double]): Map[String, Double] =
    Names.map(n => n -> m.getOrElse(n, 0.0)).toMap

  def fromOp(w: Workload, s: OpStats, root: Span, spans: Seq[Span], l: BenchListener,
      cores: Int): Map[String, Double] = {
    val self = Tracer.selfTimes(root, spans)
    def sum(p: Span => Boolean) = spans.filter(p).map(x => (x.end - x.start) / 1000).sum
    val wall = (root.end - root.start) / 1000
    val cpu = l.total(_.cpuNs) / 1e9
    val mapperRows = l.of("mapper")(_.outRecords).toDouble
    // scans under Engine.run belong to the queries layer, all others to
    // the drivers' sources and snapshots
    val readMb = l.total(_.inputBytes) / 1e6
    val queries = spans.exists(_.layer == "queries")
    s.extra ++ SelfLayers.map(x => s"self_s.$x" -> self.getOrElse(x, 0.0)) ++
      Stages.map(x => s"streaming.stage_s.$x" -> sum(_.name == s"stage:$x")) ++ Map(
      "trace.wall_s" -> wall,
      "drivers.write_s" -> sum(x => x.layer == "drivers" && x.name == "write"),
      "drivers.snapshot_s" -> sum(x => x.layer == "drivers" && x.name == "snapshot"),
      "drivers.write_mb" -> l.of("drivers")(_.outBytes) / 1e6,
      "drivers.read_mb" -> (if (queries) 0.0 else readMb),
      "queries.scan_mb" -> (if (queries) readMb else 0.0),
      "mapper.record_s" -> sum(x => x.layer == "mapper"),
      "mapper.record_mb" -> l.of("mapper")(_.outBytes) / 1e6,
      "mapper.rows_written" -> mapperRows,
      "mapper.rewrite_ratio" -> (if (s.rows > 0) mapperRows / s.rows else 0.0),
      "exec.shuffle_mb" -> l.total(_.shuffleBytes) / 1e6,
      "exec.spill_mb" -> l.total(_.spillBytes) / 1e6,
      "exec.other_s" -> (wall - self.getOrElse("drivers", 0.0) - self.getOrElse("mapper", 0.0)),
      "exec.jobs" -> l.jobs.toDouble,
      "streaming.jobs_per_batch" ->
        s.extra.get("streaming.batches").filter(_ > 0).map(l.jobs / _).getOrElse(0.0),
      "streaming.land_s" -> sum(x => x.layer == "streaming" && x.depth == 3),
      "spark.task_s" -> l.total(_.runMs) / 1000.0,
      "spark.cpu_s" -> cpu,
      "spark.gc_s" -> l.total(_.gcMs) / 1000.0,
      "spark.cpu_util" -> cpu / (wall * cores))
  }
}
