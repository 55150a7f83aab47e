package graft.streaming

import graft.SparkSpec
import graft.drivers.ParquetDestinationDriver
import graft.exec._
import graft.mapper.MappingStore
import graft.spec.{IdField, MigrationSpec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders}

class StreamingSpec extends SparkSpec {

  test("windowed aggregation over a memory stream matches batch computation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, Double)](
      Encoders.product[(java.sql.Timestamp, String, Double)], spark)
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    input.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0), (ts(31), "view", 3.0))
    val agg = StreamingIngest.windowedCounts(
      input.toDF().toDF("ts", "event_type", "value"), "ts", "10 minutes", "30 minutes")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("win_counts")
      .orderBy("window_start", "event_type").collect()
    assert(rows.map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq(("click", 2L, 300L), ("view", 1L, 300L)))
  }

  test("transformWithState sessionization: gap splits sessions, timers close trailing ones") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)](
      Encoders.product[(java.sql.Timestamp, Long, Double)], spark)
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: two bursts separated by > 30 min gap; user 2: one burst
    input.addData(
      (ts(0), 1L, 1.0), (ts(1), 1L, 2.0),
      (ts(40), 1L, 3.0),
      (ts(5), 2L, 4.0))
    val sessions = StreamingIngest.sessionize(
      input.toDF().toDF("ts", "user_id", "value"), "ts", "user_id", "value",
      gapSeconds = 1800, stateTimeoutMs = 1000L)
    // NOTE: poll the sink rather than processAllAvailable() — with
    // recurring triggers + registered timers the latter never quiesces
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L)).start()
    try {
      val deadline = System.currentTimeMillis + 60000
      var all = Array.empty[StreamingIngest.SessionOut]
      while (all.length < 3 && System.currentTimeMillis < deadline) {
        Thread.sleep(300)
        all = spark.table("sess_out").as[StreamingIngest.SessionOut].collect()
      }
      assert(all.length == 3, s"expected 3 sessions, got ${all.toSeq}")
      // gap-split burst closes with exact event-time aggregates
      assert(all.exists(s => s.userId == 1L && s.nEvents == 2 && s.valueCentsSum == 300))
      // timer-closed trailing sessions
      assert(all.exists(s => s.userId == 1L && s.nEvents == 1 && s.valueCentsSum == 300))
      assert(all.exists(s => s.userId == 2L && s.nEvents == 1 && s.valueCentsSum == 400))
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream-stream interval join: watermark drops late rows (bounded state observable)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val errIn = MemoryStream[(Long, java.sql.Timestamp)](
      Encoders.product[(Long, java.sql.Timestamp)], spark)
    val sigIn = MemoryStream[(Long, java.sql.Timestamp)](
      Encoders.product[(Long, java.sql.Timestamp)], spark)
    // same shape as the stream_interval_join gate query: 15-min bucket
    // equality key + exact range predicate, 10-min watermarks both sides
    val errors = errIn.toDF().toDF("event_id", "ts")
      .withColumn("bucket", explode(array(
        floor(unix_timestamp(col("ts")) / 900),
        floor(unix_timestamp(col("ts")) / 900) - 1)))
      .withWatermark("ts", "10 minutes")
    val signups = sigIn.toDF().toDF("signup_id", "s_ts")
      .withColumn("s_bucket", floor(unix_timestamp(col("s_ts")) / 900))
      .withWatermark("s_ts", "10 minutes")
    val joined = errors.join(signups,
      expr("bucket = s_bucket AND ts >= s_ts AND ts < s_ts + interval 15 minutes"))
      .select(col("event_id"), col("signup_id"))
    val q = joined.writeStream.format("memory").queryName("ij_late")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).start()
    try {
      // batch 1: two matching pairs; both sides' max event time reaches
      // 12:05, so the query watermark advances to ~11:55
      sigIn.addData((100L, ts(10, 0)), (200L, ts(12, 0)))
      errIn.addData((1L, ts(10, 5)), (2L, ts(12, 5)))
      q.processAllAvailable()
      // empty batch to propagate the watermark from batch 1's event times
      sigIn.addData(); errIn.addData()
      q.processAllAvailable()
      val afterB1 = spark.table("ij_late").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterB1 == Set((1L, 100L), (2L, 200L)), s"got $afterB1")
      // batch 2: an error at 10:07 is far behind the ~11:55 watermark —
      // it must be DROPPED, not joined against signup 100 (whose state
      // is GC-eligible); this is the property that bounds join state
      errIn.addData((3L, ts(10, 7)))
      q.processAllAvailable()
      val afterB2 = spark.table("ij_late").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterB2 == afterB1, s"late row must not emit: ${afterB2 -- afterB1}")
    } finally q.stop()
  }

  test("foreachBatch upsert: two micro-batches upsert through the batch executor") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = scratchDir("stream_upsert")
    val mapper = new MappingStore(s"$base/map")
    val refs = new ReferenceStore(mapper)
    val exec = new MigrationExecutor(mapper, refs, IgnoreOrphans)
    val dest = new ParquetDestinationDriver
    val sp = MigrationSpec("stream_m", source = "", sourceDriver = "stream",
      destination = s"$base/dest", destinationDriver = "parquet",
      sourceIds = Seq(IdField("src_id")), destinationIds = Seq(IdField("id")))
    val migration = new Migration {
      def spec: MigrationSpec = sp
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        src.select(col("src_id"), col("src_id").as("id"), upper(col("v")).as("v"))
    }
    val input = MemoryStream[(Long, String)](Encoders.product[(Long, String)], spark)

    val q = StreamingIngest.upsertStream(input.toDF().toDF("src_id", "v"),
      migration, dest, mapper, exec, s"$base/ckpt",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      assert(dest.snapshot(spark, sp).get.count() == 2)

      // second micro-batch updates key 1 and adds key 3 — upsert, not append
      input.addData((1L, "a2"), (3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val snap = dest.snapshot(spark, sp).get.orderBy("id").collect()
    assert(snap.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "A2"), (2L, "B"), (3L, "C")))
    assert(mapper.load(spark, sp).get.count() == 3)
  }

  test("ohlc evicting twin: watermark drops bar state mid-run, results stay exact") {
    val (folded, removed, live) = graft.queries.StreamingQueries.ohlcEvictingRun(spark, Sf)
    val bars = folded.collect()
    // eviction actually happened WHILE streaming (not just at the end),
    // and the surviving state is the watermark-horizon tail, not history
    assert(removed > 0, "watermark must evict finalized bar state")
    assert(live < bars.length,
      s"live state ($live) must be a tail of all ${bars.length} bars")
    assert(removed + live >= bars.length,
      "every bar must either be evicted or still live")
    // the folded update emissions equal the batch bars, bar for bar
    val batch = graft.SparkEntry.queries("q_ohlc_bars")(spark, Sf).collect()
    assert(bars.sameElements(batch),
      "evicting stream must reproduce the batch OHLC bars exactly")
  }

  test("concurrent streams in fair pools: isolated sessions, outputs equal their serial hashes, runs overlap") {
    import scala.concurrent.duration.Duration
    import scala.concurrent.{Await, ExecutionContext, Future}
    val names = Seq("stream_dp_counts", "stream_ohlc_bars", "stream_funnel")
    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    // serial reference run of each gate
    val serial = names.map(n =>
      n -> canon(graft.SparkEntry.queries(n)(spark, Sf))).toMap
    // concurrent run: each gate on its own thread, own FAIR pool, own
    // CHILD session (isolated SQLConf/temp catalog — stream_funnel's
    // RocksDB provider override must not leak into its siblings)
    val parentConfBefore = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(names.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val runs = try Await.result(Future.sequence(names.map { n => Future {
        val s = spark.newSession()
        s.sparkContext.setLocalProperty("spark.scheduler.pool", s"spec_$n")
        val t0 = System.nanoTime()
        try {
          val out = canon(graft.SparkEntry.queries(n)(s, Sf))
          (n, out, t0, System.nanoTime())
        } finally s.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      }}), Duration.Inf)
      finally pool.shutdown()
    runs.foreach { case (n, out, _, _) =>
      assert(out.nonEmpty && out == serial(n),
        s"$n: concurrent output must equal the serial run's")
    }
    // the streams genuinely overlapped (not accidentally serialized):
    // the latest start precedes the earliest finish
    assert(runs.map(_._3).max < runs.map(_._4).min,
      "all three streams must be in flight simultaneously at some instant")
    // the funnel's provider override stayed in its child session: the
    // parent session's conf is untouched by the concurrent run (earlier
    // serial runs on the parent may have legitimately pinned a value)
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass") == parentConfBefore,
      "per-stream conf must not leak into the parent session")
  }

  // ---- streaming curation: the durable-write transaction under crashes ----

  private lazy val curationDocs = spark.read.parquet(s"$Sf/documents.parquet")

  /** Three doc_id-ordered chunk files with ascending mtimes (the gate's
    * arrival order: dids then coincide with the batch assignment).
    */
  private lazy val curationChunks: String = {
    val dir = java.nio.file.Files.createTempDirectory("stream_cur_chunks")
    val mm = curationDocs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1) + 1L)
    val step = math.max(1L, (hi - lo + 2) / 3)
    val mtimeBase = System.currentTimeMillis() - 60000L
    for (i <- 0 until 3) {
      graft.queries.Tables.writeChunkFile(
        curationDocs.filter(col("doc_id") >= lo + i * step && col("doc_id") < lo + (i + 1) * step),
        dir, f"chunk_$i%03d.parquet", mtimeBase + i * 10000L, required = true)
    }
    dir.toString
  }

  /** Curate the three chunks, one file per trigger, until they run out. */
  private def startCuration(base: String, ckpt: String,
      dests: Migration => graft.drivers.DestinationDriver) =
    StreamingCuration.start(
      spark.readStream.schema(curationDocs.schema)
        .option("maxFilesPerTrigger", "1").parquet(curationChunks),
      base, ckpt, org.apache.spark.sql.streaming.Trigger.AvailableNow(), dests)

  /** A stage destination that throws once, at its second data write
    * (`write` or `appendDelta`): before forwarding it, or after it has
    * landed. Batch 0 publishes each stage's base generation through
    * `write`, so the second data write is batch 1's.
    */
  private final class CrashingDest(inner: ParquetDestinationDriver,
      afterWrite: Boolean, message: String) extends graft.drivers.DeltaDestination {
    private val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    private def crashing[T](write: => T): T = {
      val trip = writes.incrementAndGet() == 2
      if (trip && !afterWrite) throw new RuntimeException(message)
      val out = write
      if (trip) throw new RuntimeException(message)
      out
    }
    def snapshot(s: org.apache.spark.sql.SparkSession, sp: MigrationSpec) = inner.snapshot(s, sp)
    def write(df: DataFrame, sp: MigrationSpec): Unit = crashing(inner.write(df, sp))
    def appendDelta(df: DataFrame, sp: MigrationSpec): Long = crashing(inner.appendDelta(df, sp))
    def morSnapshot(s: org.apache.spark.sql.SparkSession, sp: MigrationSpec) =
      inner.morSnapshot(s, sp)
    override def overwriteIsReadSafe: Boolean = inner.overwriteIsReadSafe
    override def snapshotIsStableAcrossWrites: Boolean = inner.snapshotIsStableAcrossWrites
  }

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  /** Run the stream with `stage`'s destination crashing once; assert the
    * crash failed the query, then restart from the same checkpoint.
    */
  private def crashAndRestart(base: String, ckpt: String, stage: String,
      afterWrite: Boolean, message: String,
      afterCrash: ParquetDestinationDriver => Unit = _ => ()): ParquetDestinationDriver = {
    val dest = new ParquetDestinationDriver
    val crashing = new CrashingDest(dest, afterWrite, message)
    val dests: Migration => graft.drivers.DestinationDriver =
      m => if (m.spec.name == stage) crashing else dest
    val q1 = startCuration(base, ckpt, dests)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.awaitTermination())
    assert(causes(ex).exists(c => Option(c.getMessage).exists(_.contains(message))),
      s"expected the injected crash, got: $ex")
    // the crash hit batch 1: batch 2 never landed
    val landed = new java.io.File(s"$base/landed").listFiles().map(_.getName).sorted.toSeq
    assert(landed == Seq("batch_0", "batch_1"), s"crash was not on batch 1: landed $landed")
    afterCrash(dest)
    val q2 = startCuration(base, ckpt, dests)
    try q2.awaitTermination() finally q2.stop()
    dest
  }

  /** Every durable output of a curation run, as sorted row strings: the
    * curated snapshot, each stage's reconciled state, and each stage's
    * mapping `(source_*, dest_*, status)` (`updated` is a wall clock).
    */
  private def curationState(base: String): Seq[(String, Seq[String])] = {
    val dest = new ParquetDestinationDriver
    val mapper = new MappingStore(s"$base/map")
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    ("curated" -> rows(StreamingCuration.curated(spark, base).get)) +:
      CurationPipeline.migrations(s"$base/stages").flatMap { m =>
        Seq(s"${m.spec.name} state" -> rows(dest.morSnapshot(spark, m.spec).get),
          s"${m.spec.name} mapping" ->
            rows(mapper.load(spark, m.spec).get.drop(MappingStore.UpdatedCol)))
      }
  }

  private lazy val crashFreeState: Seq[(String, Seq[String])] = {
    val base = scratchDir("stream_cur_ref")
    val q = startCuration(base, scratchDir("stream_cur_ref_ckpt"), null)
    try q.awaitTermination() finally q.stop()
    curationState(base)
  }

  // Crash-point enumeration: every stage, before and after its batch-1
  // data write. For the four delta stages the mapping is already recorded
  // before the data write; the mix stage (execute) records after it. A
  // restart must converge to the crash-free run's every durable output.
  for (stage <- CurationPipeline.StageNames; afterWrite <- Seq(false, true)) {
    val point = if (afterWrite) "after" else "before"
    test(s"streaming curation crash point: $stage, $point its batch-1 data write — restart equals a crash-free run") {
      val base = scratchDir("stream_cur_cp")
      crashAndRestart(base, scratchDir("stream_cur_cp_ckpt"), stage, afterWrite,
        s"injected crash $point $stage data write")
      val got = curationState(base)
      assert(got.map(_._1) == crashFreeState.map(_._1))
      got.zip(crashFreeState).foreach { case ((name, rows), (_, want)) =>
        assert(rows == want, s"$name differs from the crash-free run: " +
          s"${rows.diff(want).take(3)} extra, ${want.diff(rows).take(3)} missing")
      }
    }
  }

  // Crash points inside a delta stage's mapping record. Batch 0 publishes
  // each mapping's gen0; batch 1 records as log segment mlog_gen0_0.
  // `afterCrash` turns the state the CrashingDest leaves (mapping
  // segment committed, data not appended) into the one each kill leaves.
  private def mappingCrashCase(point: String, stage: String)(
      afterCrash: java.io.File => Unit): Unit =
    test(s"streaming curation crash point: $stage, $point — restart equals a crash-free run") {
      val base = scratchDir("stream_cur_mcp")
      crashAndRestart(base, scratchDir("stream_cur_mcp_ckpt"), stage, afterWrite = false,
        s"injected crash in $stage: $point", afterCrash = { dest =>
          val table = new java.io.File(s"$base/map/$stage")
          assert(new java.io.File(table, "mlog_gen0_0/_SUCCESS").exists(),
            s"batch 1 did not record $stage as a log segment: ${table.list().toSeq.sorted}")
          assert(dest.deltaSegments(spark, CurationPipeline.migrations(s"$base/stages")
            .find(_.spec.name == stage).get.spec).isEmpty, s"$stage data was appended")
          afterCrash(table)
        })
      val got = curationState(base)
      got.zip(crashFreeState).foreach { case ((name, rows), (_, want)) =>
        assert(rows == want, s"$name differs from the crash-free run: " +
          s"${rows.diff(want).take(3)} extra, ${want.diff(rows).take(3)} missing")
      }
    }

  mappingCrashCase("after its mapping segment, before its data append", "llm_dedup")(_ => ())

  mappingCrashCase("mid mapping segment (a _temporary-only directory)", "llm_ingest") { table =>
    val seg = new java.io.File(table, "mlog_gen0_0")
    org.apache.commons.io.FileUtils.deleteDirectory(seg)
    assert(new java.io.File(seg, "_temporary/0").mkdirs())
  }

  mappingCrashCase("mid mapping compaction (an unpublished next generation)", "llm_quality") { table =>
    // a compaction killed while writing its generation: gen1 holds the
    // committer's _temporary and a stray part file, `_CURRENT` still gen0
    val gen1 = new java.io.File(table, "gen1")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(table, "gen0"), gen1)
    new java.io.File(gen1, "_SUCCESS").delete()
    assert(new java.io.File(gen1, "_temporary/0").mkdirs())
  }

  test("streaming curation: a batch leaves no pinned RDD behind") {
    val base = scratchDir("stream_cur_pins")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // batch 0 publishes base generations, batch 1 appends deltas and
    // prunes the mix stage: the landed batch, the stage pins and the
    // langid state must all be released by the end of each
    Seq(0L, 1L).foreach { b =>
      curationDocs.filter(col("doc_id") % 2 === b).write.parquet(s"$base/landed/batch_$b")
      StreamingCuration.runDagIncremental(spark, base, b)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"batch $b left ${left.size} persistent RDDs pinned")
    }
  }

  test("streaming curation DAG: crash mid-DAG, restart from checkpoint — exactly-once final state") {
    val base = scratchDir("stream_cur")
    val ckpt = scratchDir("stream_cur_ckpt")
    val docs = curationDocs

    // one-shot twin: the whole corpus as a single landed batch defines
    // the state the crashed-and-recovered stream must converge to
    val twinBase = scratchDir("stream_cur_twin")
    docs.write.mode("overwrite").parquet(s"$twinBase/landed/batch_0")
    StreamingCuration.runDag(spark, twinBase)
    val expected = StreamingCuration.curated(spark, twinBase).get

    // poisoned quality destination: batch 1's delta append (quality's
    // second data write) throws once, with ingest+dedup deltas already
    // committed for that batch — a genuine mid-DAG crash. The restart
    // from the same checkpoint replays batch 1 with the same id and
    // files: landing is idempotent, the DAG re-merges.
    val stages = graft.exec.CurationPipeline.migrations(s"$base/stages")
    def stageSpec(name: String) = stages.find(_.spec.name == name).get.spec
    val dest = crashAndRestart(base, ckpt, "llm_quality", afterWrite = false,
      "injected mid-DAG crash", afterCrash = { dest =>
        // the crash landed MID-DAG: batch 1's ingest delta is committed
        // (base generation + ≥1 merge-on-read segment) while quality is
        // still at its batch-0 base generation with an empty delta log
        def deltas(name: String): Int = dest.deltaSegments(spark, stageSpec(name)).size
        assert(deltas("llm_ingest") >= 1 && deltas("llm_quality") == 0 &&
            dest.generations(spark, stageSpec("llm_quality")).size == 1,
          s"crash was not mid-DAG: ingest deltas=${deltas("llm_ingest")} " +
            s"quality deltas=${deltas("llm_quality")}")
      })

    val got = StreamingCuration.curated(spark, base).get
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "recovered stream state must be byte-identical to the one-shot batch run")
    // no duplicated landings (exactly-once at the bronze tier)
    val landed = new java.io.File(s"$base/landed").listFiles()
      .count(_.getName.startsWith("batch_"))
    assert(landed == 3, s"expected 3 landed batches, found $landed")
    // stable mapping-assigned dids: one mapping row per doc, dids dense —
    // over the RECONCILED ingest state (base generation ⊎ delta log;
    // latest-wins folds the crashed batch's replayed segment away)
    val (n, nd, lo2, hi2) = StreamingCuration.didShape(
      dest.morSnapshot(spark, stages.head.spec).get)
    assert(n == docs.count() && nd == n && lo2 == 1L && hi2 == n,
      s"ingest dids must be dense 1..$n: ($n, $nd, $lo2, $hi2)")
    // O(batch) evidence survived the crash/replay: per-batch ingest
    // processed rows equal that batch's landed rows and sum to the corpus
    val metrics = StreamingCuration.batchMetrics(spark, base)
      .filter(col("stage") === "llm_ingest")
      .collect().map(r => r.getAs[Long]("batch_id") -> r.getAs[Long]("input_rows")).toMap
    assert(metrics.keySet == Set(0L, 1L, 2L) && metrics.values.sum == n,
      s"per-batch ingest metrics must cover 3 batches summing to $n: $metrics")
    (0L until 3L).foreach { b =>
      val landedN = spark.read.parquet(s"$base/landed/batch_$b").count()
      assert(metrics(b) == landedN,
        s"batch $b: ingest processed ${metrics(b)} rows, landed $landedN — not O(batch)")
    }
  }
}
