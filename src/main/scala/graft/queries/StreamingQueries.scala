package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming queries that run inside the batch correctness gate: the
  * events table is consumed through a real Structured Streaming file
  * source (`readStream` → watermark → windowed agg → memory sink,
  * `Trigger.AvailableNow`), and the result must hash-match the same
  * DuckDB SQL as the batch path — stream/batch parity, verified.
  */
object StreamingQueries {
  import Tables._

  private val counter = new java.util.concurrent.atomic.AtomicInteger

  /** Memory-sink quiesce deadline for the processing-time-trigger
    * gates. The polling loops exit the moment the sink is stable and
    * complete, so this bound only caps PATHOLOGICAL waits — it must
    * absorb corpus growth (the r17 sf1-equivalent leg: 10x events
    * under stream_concurrent's 4-way FAIR-pool contention blew the old
    * 120 s bound while the streams were still making progress).
    * Overridable for fault-injection tests via GRAFT_SINK_DEADLINE_MS. */
  private val sinkDeadlineMs: Long =
    sys.env.get("GRAFT_SINK_DEADLINE_MS").map(_.toLong).getOrElse(600000L)

  private val stagedCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Distributed stream/batch parity gate. The old form collected both
    * ranked lists to the driver and compared Sets — bounded at
    * k·|probes|, but |probes| scales with the corpus (1% of doc_ids),
    * so at 100 TB the GATE (not the serving path) became a driver
    * collect. Here each side's key projection is frozen ONCE with an
    * eager localCheckpoint — preserving the single-evaluation
    * determinism the float-rounding-boundary note demands (a lazy
    * exceptAll over the original plans would re-evaluate the batch
    * float aggregate inside each compare leg) — and the diff runs on
    * the executors: same count + one empty exceptAll ⟺ multiset
    * equality. The driver sees three scalars; the frozen blocks are
    * dropped before returning (PersistHygieneSpec discipline — no
    * per-query persist without an unpersist owner).
    */
  private def parityHolds(stream: DataFrame, batch: DataFrame): Boolean = {
    def rddOf(df: DataFrame) =
      df.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
    val s = stream.localCheckpoint(true)
    val b = batch.localCheckpoint(true)
    try {
      val n = s.count()
      n > 0 && n == b.count() && s.exceptAll(b).isEmpty
    } finally Seq(s, b).flatMap(rddOf(_))
      .filter(_.getStorageLevel.isValid)
      .foreach(_.unpersist(blocking = false))
  }

  /** Run `body` (which starts a streaming query) with a reduced
    * `spark.sql.shuffle.partitions`, restoring the session value after.
    *
    * A stateful streaming query instantiates one state store PER state
    * partition PER micro-batch (a stream-stream join keeps four per
    * partition), and the partition count is frozen from
    * `spark.sql.shuffle.partitions` when the query first starts. The
    * gate's state fits a handful of partitions, so paying 32×4 store
    * opens+commits per micro-batch is pure fixed overhead — measured:
    * the sf0.001 and sf0.1 runs cost the SAME wall time, i.e. ~100% of
    * it is state-store machinery, not rows. A real deployment sizes
    * this to throughput (state partitions ≈ cores busy with state work);
    * the principle — state partitions are a first-class knob decoupled
    * from the batch shuffle width — is exactly what this helper encodes.
    */
  private def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Scale-ADAPTIVE state/shuffle width for the streaming gates (r21
    * verdict task 1). Inheriting the session's batch width couples the
    * state-store count to the CORE count, which the r21 scaling block
    * measured as wrong in both directions: at sf0.1 three gates ran ~2×
    * faster on 8 cores than 32 (each stateful operator opens+commits one
    * state store per partition per micro-batch — 32 stores for
    * kilobytes of state is pure fixed cost), while at 100 TB a
    * core-count-sized width would under-partition state. So the width
    * derives from the CORPUS VOLUME (~32 MB of source data per state
    * partition — state is a bounded projection of the source), floored
    * at 4 so tiny corpora still exercise real multi-partition state
    * machinery, and capped at 4× the session's configured width so a
    * misconfigured session can't explode the store count. Trigger
    * counts, watermarks and kill/restart semantics are untouched — the
    * same micro-batches run, each over fewer state partitions.
    * `GRAFT_STREAM_SHUFFLE_PARTITIONS` overrides for A/B probes.
    */
  private val corpusBytesCache = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def corpusBytes(sf: String): Long =
    corpusBytesCache.getOrElseUpdate(sf, {
      def sz(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(sz).sum
      sz(new java.io.File(sf))
    })
  private[graft] def adaptivePartitions(spark: SparkSession, sf: String): Int =
    sys.env.get("GRAFT_STREAM_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse {
      val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val perPartition = 32L << 20
      val byData = ((corpusBytes(sf) + perPartition - 1) / perPartition).toInt
      math.max(4, math.min(byData, math.max(4, 4 * width)))
    }

  /** The file streaming source lists a *directory*; the corpus tables are
    * single parquet files — stage a per-sf copy once.
    */
  private def stagedDir(spark: SparkSession, sf: String, table: String): String =
    stagedCache.getOrElseUpdate(s"$sf/$table", {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_stream_$table")
      val src = java.nio.file.Paths.get(path(sf, table))
      if (java.nio.file.Files.isDirectory(src)) {
        // multi-file table (e.g. the ScaleUp sf1-equivalent corpus):
        // stage every part file — Files.copy on the directory itself
        // would stage an EMPTY directory entry, and the file source
        // would silently run the whole gate on zero input (the r17
        // sf1-leg lesson: three gates "finished" in 0.1 s and
        // stream_funnel starved its sink poller)
        var staged = 0
        val it = java.nio.file.Files.list(src)
        try it.iterator().forEachRemaining { p =>
          if (p.getFileName.toString.endsWith(".parquet") &&
              java.nio.file.Files.isRegularFile(p)) {
            java.nio.file.Files.copy(p, dir.resolve(p.getFileName.toString)): Unit
            staged += 1
          }
        } finally it.close()
        require(staged > 0, s"no parquet part files under $src")
      } else
        java.nio.file.Files.copy(src, dir.resolve(s"$table.parquet")): Unit
      dir.toString
    })

  /** Documents staged as `n` doc_id-ordered chunks with ascending
    * mtimes — batches ARRIVE in id order, so the streaming curation
    * pipeline's mapping-assigned dense dids coincide with the one-shot
    * batch assignment (rank by doc_id) and the stream's final state can
    * hash against the batch pipeline's oracle.
    */
  private val docChunkCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def stagedDocChunks(spark: SparkSession, sf: String, n: Int): String =
    docChunkCache.getOrElseUpdate(s"$sf/documents/$n", {
      val dir = java.nio.file.Files.createTempDirectory("graft_stream_docs")
      val df = spark.read.parquet(path(sf, "documents"))
      val mm = df.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1) + 1L)
      val step = math.max(1L, (hi - lo + n - 1) / n)
      val base = System.currentTimeMillis() - n * 10000L
      for (i <- 0 until n) {
        val chunk = df.filter(col("doc_id") >= lo + i * step &&
          col("doc_id") < lo + (i + 1) * step)
        Tables.writeChunkFile(chunk, dir, f"chunk_$i%03d.parquet", base + i * 10000L)
      }
      dir.toString
    })

  private val chunkedCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val ewmaChunkCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Time-chunked events corpus (8 ascending non-overlapping ranges)
    * plus a trailing sentinel chunk carrying one far-future row PER
    * TYPE (every type's fold must close) — the shared staging for the
    * incremental transformWithState gates (stream_exp_smoothing /
    * stream_holt / stream_sprt). Built once per SF and cached.
    */
  private def ewmaChunkDir(spark: SparkSession, sf: String): String =
    ewmaChunkCache.getOrElseUpdate(sf, {
      val chunks = stagedTimeChunks(spark, sf, 8)
      val d = java.nio.file.Files.createTempDirectory("graft_ewma_chunks")
      new java.io.File(chunks).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val dst = d.resolve(f.getName)
          java.nio.file.Files.copy(f.toPath, dst)
          dst.toFile.setLastModified(f.lastModified)
        }
      val df = Tables.normalizeTs(spark.read.parquet(path(sf, "events")))
      val hi = df.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val sent = df.groupBy(col("event_type")).agg(count(lit(1)).as("c"))
        .select(lit(-1L).as("event_id"),
          expr(s"timestamp_micros(${hi + 7200000000L})").as("ts"),
          lit(-1L).as("user_id"), col("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
      Tables.writeChunkFile(sent, d, "chunk_zzz_sentinel.parquet",
        new java.io.File(chunks).listFiles().map(_.lastModified).max + 10000L,
        required = true)
      d.toString
    })

  /** Events staged as `n` time-ordered parquet chunks (ascending
    * modification times, so the file source replays them oldest-first
    * one per micro-batch) — the staging for queries that prove
    * WATERMARK EVICTION: state must be dropped while later chunks are
    * still arriving, which a single-file single-batch staging can never
    * show. Chunks are written from the normalized-ts frame so the
    * stream schema is encoding-stable.
    *
    * With `sentinel = true`, two trailing chunks hold synthetic events
    * 2 h and 4 h past the corpus maximum, whose only job is to advance
    * the final watermark beyond every real event so append-mode
    * operators (outer-join null emission, final windows) can flush the
    * tail of their state before the bounded stream ends. Two, because
    * eviction in batch k runs with the watermark committed after batch
    * k−1 — the first sentinel advances, the second triggers the flush.
    * The sentinels carry REAL event types (one 'error' + one 'purchase'
    * row each): Catalyst pushes type filters BELOW the EventTimeWatermark
    * node, so a row with a synthetic type would be dropped before the
    * watermark ever observed it and the watermark would stall at the
    * filtered stream's own maximum (observed: the last unmatched left
    * row was never flushed). Consumers exclude sentinels by their
    * negative `event_id` AFTER the join.
    */
  private def stagedTimeChunks(
      spark: SparkSession, sf: String, n: Int, sentinel: Boolean = false): String =
    chunkedCache.getOrElseUpdate(s"$sf/events/$n/$sentinel", {
      val dir = java.nio.file.Files.createTempDirectory("graft_stream_chunks")
      val df = Tables.normalizeTs(spark.read.parquet(path(sf, "events")))
      val mm = df.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1) + 1L)
      val step = math.max(1L, (hi - lo + n - 1) / n)
      val base = System.currentTimeMillis() - n * 10000L
      for (i <- 0 until n) {
        val chunk = df.filter(unix_micros(col("ts")) >= lo + i * step &&
          unix_micros(col("ts")) < lo + (i + 1) * step)
        // explicit ascending mtimes: the source's file ordering key
        Tables.writeChunkFile(chunk, dir, f"chunk_$i%03d.parquet", base + i * 10000L)
      }
      if (sentinel) {
        // TWO sentinel chunks: state eviction in batch k runs with the
        // watermark committed after batch k−1, so the first sentinel only
        // ADVANCES the watermark past the real data and the second one
        // triggers the eviction pass that flushes the remaining state.
        for (j <- 0 until 2) {
          val row = df.limit(1)
            .withColumn("event_type",
              explode(array(lit("error"), lit("purchase"))))
            .withColumn("event_id",
              when(col("event_type") === "error", lit(-1L - 2 * j))
                .otherwise(lit(-2L - 2 * j)))
            .withColumn("ts",
              expr(s"timestamp_micros(${hi - 1L} + ${7200000000L * (j + 1)})"))
            .withColumn("user_id", lit(-1L))
          Tables.writeChunkFile(row, dir, s"chunk_zzz_sentinel$j.parquet",
            base + (n + j) * 10000L, required = true)
        }
      }
      dir.toString
    })

  /** The evicting OHLC pipeline shared by the `stream_ohlc_evicting`
    * gate and the StreamingSpec eviction proof: watermarked UPDATE-mode
    * hourly bars over the time-chunked staging, one chunk per
    * micro-batch, so bars older than the advancing watermark are
    * EVICTED from the state store mid-stream (complete-mode
    * `stream_ohlc_bars` instead re-emits all state forever — fine for a
    * bounded gate, unbounded on an infinite stream; THIS is the
    * production shape). Each update emission strictly grows a bar's
    * volume, so the memory sink folds to the final bar via
    * max_by(volume) and the result hash-matches the batch oracle.
    * Returns (folded bars, state rows evicted across the run, state
    * rows still live at the end).
    */
  private[graft] def ohlcEvictingRun(
      spark: SparkSession, sf: String): (org.apache.spark.sql.DataFrame, Long, Long) = {
    val dir = stagedTimeChunks(spark, sf, 8)
    val schema = spark.read.parquet(dir).schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val agg = raw
      .select(col("event_type"), col("ts"),
        Shared.cents(col("value")).as("v"),
        struct(col("ts"), col("event_id")).as("ord"))
      .withWatermark("ts", "1 hour")
      .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(
        min_by(col("v"), col("ord")).as("open"),
        max(col("v")).as("high"),
        min(col("v")).as("low"),
        max_by(col("v"), col("ord")).as("close"),
        count(lit(1)).as("volume"))
    val table = s"stream_ohlc_ev_${counter.incrementAndGet()}"
    val q = agg.writeStream.format("memory").queryName(table)
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val progs = q.recentProgress.toSeq
    val removed = progs.map(_.stateOperators.map(_.numRowsRemoved).sum).sum
    val live = progs.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    val folded = spark.table(table)
      .groupBy(col("event_type"), col("w"))
      .agg(max_by(struct(col("open"), col("high"), col("low"), col("close")),
          col("volume")).as("f"),
        max(col("volume")).as("volume"))
      .select(col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("f.open").as("open"), col("f.high").as("high"),
        col("f.low").as("low"), col("f.close").as("close"), col("volume"))
      .orderBy(col("event_type"), col("hour"))
    (folded, removed, live)
  }

  /** The registry view: every streaming gate runs under the adaptive
    * state width (see [[adaptivePartitions]]) — the whole gate body,
    * including its foreachBatch batch jobs and staging, executes with
    * the volume-derived shuffle width; the session's batch width is
    * restored before the returned (tiny, ordered) result frame runs.
    * Gate bodies do not wrap again: a nested call would derive its cap
    * from the already-overridden width.
    */
  lazy val defs: Seq[QueryDef] = rawDefs.map { d =>
    d.copy(fn = (spark, sf) =>
      withStatePartitions(spark, adaptivePartitions(spark, sf)) {
        d.fn(spark, sf)
      })
  }

  private lazy val rawDefs: Seq[QueryDef] = Seq(

    // The engine's two flagship halves as ONE system
    // (graft.streaming.StreamingCuration): documents arrive in three
    // doc_id-ordered micro-batches; each batch lands idempotently
    // (overwrite keyed by batchId) and DELTA-PROPAGATES through the
    // 5-stage curation DAG — the four per-document stages process ONLY
    // the batch's rows (MigrationExecutor.executeDelta: mapping-assigned
    // dids extend the historical id space, dedup anti-joins the batch
    // against its historical fingerprint state, O(batch) merge-on-read
    // appends), and only the genuinely global mix stage recomputes over
    // the langid state. The defining property — final destination state
    // byte-identical to the one-shot etl_llm_pipeline — is exactly what
    // this gate hashes: the SAME oracle SQL (Shared.LlmCurationRollupSql)
    // over the full corpus, with a lit-guard pinning the incrementality
    // evidence: 3 landed batches, 3 mix generations, and the recorded
    // per-batch metrics proving O(batch) — each batch's ingest processed
    // EXACTLY that batch's landed rows (summing to the corpus: every doc
    // processed once across the run, no cumulative re-derivation), and
    // no downstream per-document stage ever processed more rows than its
    // batch delivered. Mid-DAG kill + restart exactly-once is
    // StreamingSpec's "streaming curation" test.
    QueryDef("stream_llm_pipeline",
      (spark, sf) => {
        import graft.streaming.StreamingCuration
        val dir = stagedDocChunks(spark, sf, 3)
        val base = Tables.scratch("graft_stream_llm")
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val docs = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
        val q = StreamingCuration.start(docs, base,
          Tables.scratch("graft_stream_llm_ckpt"))
        try q.awaitTermination() finally q.stop()
        val dest = new graft.drivers.ParquetDestinationDriver
        val cur = StreamingCuration.curated(spark, base, dest)
          .getOrElse(sys.error("streaming curation produced no curated snapshot"))
        val mixGens = dest.generations(spark,
          graft.exec.CurationPipeline.migrations(s"$base/stages").last.spec).size
        val landed = Option(new java.io.File(s"$base/landed").listFiles())
          .map(_.count(_.getName.startsWith("batch_"))).getOrElse(0)
        // O(batch) evidence: the recorded per-stage processed-row counts
        val metrics = StreamingCuration.batchMetrics(spark, base)
          .collect().map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("stage"),
            r.getAs[Long]("input_rows"))).toSeq
        val ingestIn = metrics.collect { case (b, "llm_ingest", n) => b -> n }.toMap
        val landedCounts = (0L until 3L).map(b =>
          b -> spark.read.parquet(s"$base/landed/batch_$b").count()).toMap
        val perDoc = Set("llm_dedup", "llm_quality", "llm_langid")
        val corpusN = spark.read.parquet(path(sf, "documents")).count()
        val oBatch =
          landedCounts.forall { case (b, n) => ingestIn.get(b).contains(n) } &&
          ingestIn.values.sum == corpusN &&
          metrics.collect { case (b, s, n) if perDoc(s) => n <= ingestIn(b) }
            .forall(identity) &&
          metrics.count { case (_, s, _) => perDoc(s) } == 9
        val ok = landed == 3 && mixGens == 3 && oBatch
        cur.filter(lit(ok))
          .groupBy(col("source"), col("predicted_lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            min(col("did")).as("min_did"),
            max(col("did")).as("max_did"))
          .orderBy(col("source"), col("predicted_lang"))
      },
      Some(Shared.LlmCurationRollupSql)),

    // Fault tolerance end to end: a watermarked append-mode hourly
    // aggregation writing to the exactly-once PARQUET file sink is
    // KILLED mid-stream (as soon as a batch has committed) and
    // RESTARTED from its checkpoint; the restarted query resumes the
    // RocksDB state and the sink's _spark_metadata manifest guarantees
    // committed batches are neither lost nor doubled, so the final
    // read-back hash-matches the batch oracle no matter where the kill
    // landed. Sentinel chunks flush the final windows (their own
    // past-corpus windows are cut at read-back — an in-stream filter
    // would be pushed below the watermark node and starve it; see
    // stream_outer_join). If the first run drains before the kill
    // fires, the gate degrades to restart-with-nothing-pending, which
    // must also be exact.
    QueryDef("stream_recovery",
      (spark, sf) => {
        val dir = stagedTimeChunks(spark, sf, 8, sentinel = true)
        val schema = spark.read.parquet(dir).schema
        val maxUs = load(spark, sf, "events")
          .agg(max(expr("unix_micros(ts)"))).first().getLong(0)
        val ckpt = Tables.scratch("graft_recovery_ckpt")
        val out = Tables.scratch("graft_recovery_out")
        def start() = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(Shared.cents(col("value"))).as("value_cents"))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        // run 1: kill after the first committed batch
        val q1 = start()
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (q1.isActive && q1.lastProgress == null && System.nanoTime() < deadline)
          Thread.sleep(25)
        q1.stop()
        q1.awaitTermination()
        // run 2: recover from the checkpoint and drain
        val q2 = start()
        q2.awaitTermination()
        spark.read.parquet(out)
          .filter(expr(s"unix_micros(w.start) <= $maxUs")) // cut sentinel windows
          .select(col("event_type"),
            date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("n_events"), col("value_cents"))
          .orderBy(col("event_type"), col("hour"))
      },
      Some("""SELECT event_type,
             |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             |  COUNT(*) AS n_events,
             |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
             |FROM events GROUP BY 1, 2 ORDER BY event_type, hour""".stripMargin)),

    QueryDef("stream_time_window",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val raw = spark.readStream.schema(schema).parquet(stagedDir(spark, sf, "events"))
        val events = Tables.normalizeTs(raw)
        val agg = graft.streaming.StreamingIngest.windowedCounts(
            events, "ts", watermarkDelay = "1 hour", windowLen = "1 hour")
          .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("event_type"), col("n_events"), col("value_cents"))
        val table = s"stream_tw_${counter.incrementAndGet()}"
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
             |  COUNT(*) AS n_events,
             |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
             |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)),

    // Streaming dedup: drop exact duplicate doc fingerprints within the
    // stream (stateful dropDuplicates with watermark-bounded state) —
    // result equals batch exact-dedup's survivor count per source.
    QueryDef("stream_dedup",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val docs = spark.readStream.schema(schema).parquet(stagedDir(spark, sf, "documents"))
        val deduped = docs
          .withColumn("fp", graft.ops.TextOps.fingerprint(col("text")))
          .dropDuplicates("fp")
        val table = s"stream_dd_${counter.incrementAndGet()}"
        val q = deduped.groupBy(col("source")).agg(count(lit(1)).as("n_unique"))
          .writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("source"))
      },
      Some("""SELECT source, COUNT(*) AS n_unique FROM (
             |  SELECT source, ROW_NUMBER() OVER (
             |    PARTITION BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
             |    ORDER BY doc_id) AS rn
             |  FROM documents) t WHERE rn = 1
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Streaming CDC-chunk dedup — the sub-document sibling of
    // stream_dedup: content-defined chunks materialize per arriving doc
    // via the SAME scan-stage array fold the batch operator uses
    // (Dedup.cdcChunkArray is window-free, hence streaming-legal), and
    // chunk-level exact dedup is stateful dropDuplicates on
    // (source, fp). Attributing a fingerprint to every source that
    // carries it keeps the count arrival-order-independent — a plain
    // dropDuplicates("fp") would credit a cross-source chunk to
    // whichever file staged first.
    QueryDef("stream_cdc_chunks",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val docs = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
        val chunks = docs.filter(col("text").isNotNull)
          .select(col("source"),
            explode(graft.ops.Dedup.cdcChunkArray(col("text"))).as("chunk"))
          .withColumn("fp", md5(col("chunk")))
          .dropDuplicates("source", "fp")
        val table = s"stream_cdc_${counter.incrementAndGet()}"
        val q = chunks.groupBy(col("source"))
          .agg(count(lit(1)).as("n_unique_chunks"))
          .writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("source"))
      },
      Some("""WITH toks AS (SELECT doc_id, source, string_split(text,' ') t
             |  FROM documents WHERE text IS NOT NULL),
             |w AS (SELECT doc_id, source, unnest(range(len(t))) i, t FROM toks),
             |flags AS (SELECT doc_id, source, i, t[i+1] AS word,
             |  CASE WHEN substr(md5(t[i+1]), 32, 1) = '0' THEN 1 ELSE 0 END f
             |  FROM w),
             |cids AS (SELECT doc_id, source, i, word,
             |  COALESCE(SUM(f) OVER (PARTITION BY doc_id ORDER BY i
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cid
             |  FROM flags),
             |chunks AS (SELECT doc_id, source, cid,
             |  md5(string_agg(word, ' ' ORDER BY i)) fp
             |  FROM cids GROUP BY doc_id, source, cid)
             |SELECT source, CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_chunks
             |FROM chunks GROUP BY source ORDER BY source""".stripMargin)),

    // NATIVE session windows (session_window) — the engine-managed
    // sibling of stream_sessionize's hand-rolled state machine: Spark
    // merges per-user events into gap-bounded sessions in the state
    // store itself, so session semantics come from the planner, not
    // user code. Complete mode keeps every merged session live; the
    // dashboard read folds them to per-user (sessions, events), which
    // the oracle replays with exact integer-microsecond gap arithmetic
    // (a new session starts when the gap reaches the 6 h bound).
    QueryDef("stream_session_window",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val raw = Tables.normalizeTs(
          spark.readStream.schema(schema).parquet(stagedDir(spark, sf, "events")))
        val sessions = raw
          .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
          .agg(count(lit(1)).as("n_ev"))
        val table = s"stream_sw_${counter.incrementAndGet()}"
        val q = sessions.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"), sum(col("n_ev")).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) us FROM events),
             |d AS (SELECT user_id,
             |    us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS gap
             |  FROM e)
             |SELECT user_id,
             |  CAST(1 + SUM(CASE WHEN gap >= 21600000000 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_sessions,
             |  CAST(COUNT(*) AS BIGINT) AS n_events
             |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Bounded-state streaming dedup — the production variant of
    // stream_dedup: dropDuplicatesWithinWatermark keys state by
    // (user, type, event day) and lets the watermark EVICT entries once
    // no duplicate can still arrive, so state is O(active window), not
    // O(all history) — the difference between a dedup that runs forever
    // and one that OOMs the state store at 100 TB. The 45-day delay
    // covers the corpus span, so the verdict here equals a global
    // distinct and the oracle is exact.
    QueryDef("stream_dedup_ttl",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val raw = Tables.normalizeTs(
          spark.readStream.schema(schema).parquet(stagedDir(spark, sf, "events")))
        val deduped = raw
          .withColumn("day", to_date(col("ts")))
          .withWatermark("ts", "45 days")
          .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
        val table = s"stream_ddttl_${counter.incrementAndGet()}"
        val q = deduped.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_user_days"))
          .writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
             |  CAST(COUNT(DISTINCT (user_id, CAST(ts AS DATE))) AS BIGINT)
             |    AS n_user_days
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Stream-static join: the unbounded stream enriched against a static
    // dimension (customer) — Catalyst broadcasts the dim into every
    // micro-batch, no state store involved; the third join class after
    // batch joins and stream-stream joins, verified against the plain
    // batch SQL.
    QueryDef("stream_static_join",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val raw = spark.readStream.schema(schema).parquet(stagedDir(spark, sf, "events"))
        val dim = spark.read.parquet(path(sf, "customer"))
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        val agg = raw.join(dim, Seq("user_id"))
          .groupBy(col("c_mktsegment"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(round(col("value") * 100).cast("long")).as("value_cents"))
        val table = s"stream_sj_${counter.incrementAndGet()}"
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("c_mktsegment"), col("event_type"))
      },
      Some("""SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
             |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY c_mktsegment, event_type
             |ORDER BY c_mktsegment, event_type""".stripMargin)),

    // Micro-batch keyed ingestion through the BATCH executor
    // (foreachBatch → upsert merge + mapping table): a stream and a
    // backfill produce byte-identical destination snapshots, proven here
    // against the plain-SQL transform of the same events.
    QueryDef("stream_upsert",
      (spark, sf) => {
        import graft.exec._
        import graft.mapper.MappingStore
        import graft.spec.{IdField, LongId, MigrationSpec}
        val schema = spark.read.parquet(path(sf, "events")).schema
        val raw = spark.readStream.schema(schema).parquet(stagedDir(spark, sf, "events"))
        val base = java.nio.file.Files.createTempDirectory("graft_stream_upsert").toString
        val theSpec = MigrationSpec("stream_upsert", source = "", sourceDriver = "stream",
          destination = s"$base/dest", destinationDriver = "parquet",
          sourceIds = Seq(IdField("event_id", LongId)),
          destinationIds = Seq(IdField("event_id", LongId)))
        val mapper = new MappingStore(s"$base/map")
        val exec = new MigrationExecutor(mapper, new ReferenceStore(mapper), IgnoreOrphans)
        val mig = new Migration {
          def spec: MigrationSpec = theSpec
          def transform(src: org.apache.spark.sql.DataFrame, ctx: TransformContext) =
            src.select(col("event_id"), col("event_type"),
              round(col("value") * 100).cast("long").as("value_cents"))
        }
        val dest = new graft.drivers.ParquetDestinationDriver
        val q = graft.streaming.StreamingIngest.upsertStream(
          raw, mig, dest, mapper, exec, checkpointDir = s"$base/ckpt")
        try q.awaitTermination() finally q.stop()
        dest.snapshot(spark, theSpec).get.orderBy(col("event_id"))
      },
      Some("""SELECT event_id, event_type,
             |  CAST(ROUND(value*100) AS BIGINT) AS value_cents
             |FROM events ORDER BY event_id""".stripMargin)),

    // Streaming sessionization through the transformWithState
    // StatefulProcessor (RocksDB state store) — stream/batch parity with
    // q_sessionize's oracle on the same events. Trailing sessions are
    // closed deterministically: a far-future sentinel row per user splits
    // the last real session on INPUT (gap rule), so the gate never waits
    // on the processing-time idle timer (which exists for genuinely
    // unbounded streams).
    QueryDef("stream_sessionize",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        def fixTs(df: DataFrame): DataFrame = Tables.normalizeTs(df)
        val batchEvents = fixTs(spark.read.parquet(path(sf, "events")))
        val maxTs = batchEvents.agg(max(col("ts"))).head().getTimestamp(0)
        val sentinelDir = java.nio.file.Files
          .createTempDirectory("graft_stream_sentinel").toString
        batchEvents.select(col("user_id")).distinct()
          .withColumn("ts", lit(maxTs) + expr("interval 3650 days"))
          .withColumn("value", lit(0.0))
          .coalesce(1).write.mode("overwrite").parquet(sentinelDir)
        val real = fixTs(spark.readStream.schema(schema)
            .parquet(stagedDir(spark, sf, "events")))
          .select(col("user_id"), col("ts"), col("value"))
        val sentinels = spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType))))
          .parquet(sentinelDir)
        val prevProvider = spark.conf
          .getOption("spark.sql.streaming.stateStore.providerClass")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          // Huge idle timeout: the sentinel closes every real session in
          // the data batch itself, so the timer never needs to fire here
          // (and with registered timers awaitTermination/
          // processAllAvailable never quiesce — see StreamingSpec).
          val sessions = graft.streaming.StreamingIngest.sessionize(
            real.unionByName(sentinels), "ts", "user_id", "value",
            gapSeconds = 1800, stateTimeoutMs = 3600L * 1000)
          val table = s"stream_sess_${counter.incrementAndGet()}"
          val q = sessions.toDF().writeStream.format("memory").queryName(table)
            .outputMode("append")
            .trigger(Trigger.ProcessingTime(100L)).start()
          try {
            // all files fit one micro-batch; poll the sink until the batch
            // lands and the count is stable
            val deadline = System.currentTimeMillis + sinkDeadlineMs
            var n = -1L
            var stable = 0
            while (stable < 2 && System.currentTimeMillis < deadline) {
              Thread.sleep(150)
              val c = spark.table(table).count()
              if (c > 0 && c == n) stable += 1 else { stable = 0; n = c }
            }
          } finally q.stop()
          spark.table(table)
            .filter(col("sessionStart") <= lit(maxTs)) // real sessions only
            .groupBy(col("userId"))
            .agg(count(lit(1)).as("n_sessions"), max(col("nEvents")).as("max_session_events"))
            .select(col("userId").as("user_id"), col("n_sessions"),
              col("max_session_events"))
            .orderBy(col("user_id"))
        } finally prevProvider match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      },
      Some("""WITH marked AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN LAG(ts) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT user_id,
             |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM marked),
             |per_sess AS (
             |  SELECT user_id, session_id, COUNT(*) AS n_events FROM sess GROUP BY 1, 2)
             |SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
             |  MAX(n_events) AS max_session_events
             |FROM per_sess GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Streaming decontamination: documents arriving on a stream checked
    // against a STATIC benchmark window set — the online form of
    // dedup_decontaminate (same oracle: stream/batch parity). The
    // benchmark's distinct window hashes are a static relation joined
    // into every micro-batch (broadcast in practice — benchmarks are
    // KBs); per-doc window dedup + the count aggregate are the stateful
    // parts. This is the shape of an ingest pipeline that must reject
    // eval-set contamination before data lands in the training corpus.
    QueryDef("stream_decontaminate",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val k = 20
        val docs = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
        val bench = spark.read.parquet(path(sf, "documents"))
          .filter(col("doc_id") % 10 === 0)
          .select(explode(array_distinct(
            graft.ops.Dedup.windowHashes(col("text"), k))).as("w"))
          .distinct()
        // per-doc window dedup happens INSIDE the row (array_distinct),
        // so the stream stays stateless until the final count aggregate
        // — a dropDuplicates here would grow unbounded state on a real
        // unbounded stream
        val corpusWins = docs.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), explode(array_distinct(
            graft.ops.Dedup.windowHashes(col("text"), k))).as("w"))
        val agg = corpusWins.join(bench, Seq("w"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated_windows"))
        val table = s"stream_dc_${counter.incrementAndGet()}"
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text,' ') t FROM documents),
             |idx AS (SELECT doc_id, unnest(range(len(t) - 19)) i, t FROM toks WHERE len(t) >= 20),
             |w AS (SELECT DISTINCT doc_id, list_aggregate(t[i+1:i+20], 'string_agg', ' ') s FROM idx),
             |bw AS (SELECT DISTINCT s FROM w WHERE doc_id % 10 = 0)
             |SELECT cw.doc_id, COUNT(*) AS n_contaminated_windows
             |FROM (SELECT * FROM w WHERE doc_id % 10 <> 0) cw JOIN bw USING (s)
             |GROUP BY cw.doc_id ORDER BY doc_id""".stripMargin)),

    // Streaming twin of dedup_incremental_fuzzy: the nightly crawl as a
    // stream — micro-batched new docs join the STATIC history shingle
    // index (a stream-static join is stateless), with both Jaccard
    // denominators attached statelessly (na pre-joined onto the static
    // index rows, nb computed INSIDE the row via array_distinct), so the
    // only stateful node is the (history, batch) pair count aggregate.
    // The finishing arithmetic (exact |∩|/|∪| + threshold) runs in batch
    // on the materialized pair table — the shape of an ingest loop that
    // flags near-dups of the corpus before data lands. No bloom here:
    // the filter would have to cover the STREAM side, unknowable ahead
    // of the micro-batch; production prunes the static index at setup
    // instead. Same oracle as the batch twin — identical result set.
    QueryDef("stream_incremental_fuzzy",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val history = spark.read.parquet(path(sf, "documents"))
          .filter(col("doc_id") % 5 =!= 4)
        val histSh = graft.ops.Dedup.shingleTable(history, "text", "doc_id", 5)
        val histIdx = histSh
          .join(histSh.groupBy(col("doc_id")).agg(count(lit(1)).as("na")), Seq("doc_id"))
          .select(col("doc_id").as("a"), col("shingle"), col("na"))
        val docs = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
        val batchSh = docs.filter(col("doc_id") % 5 === 4)
          .withColumn("__sh", array_distinct(graft.ops.TextOps.shingles(col("text"), 5)))
          .select(col("doc_id").as("b"), size(col("__sh")).cast("long").as("nb"),
            explode(col("__sh")).as("shingle"))
        val inter = batchSh.join(histIdx, Seq("shingle"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("inter"), max(col("na")).as("na"), max(col("nb")).as("nb"))
        val table = s"stream_if_${counter.incrementAndGet()}"
        val q = inter.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table)
          .withColumn("jaccard",
            col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .filter(col("jaccard") >= 0.8)
          .select(col("a"), col("b"), col("inter"), col("na"), col("nb"), col("jaccard"))
          .orderBy(col("a"), col("b"))
      },
      Some(Shared.IncrementalFuzzyOracle)),

    // Stream-stream interval join with event-time bounds + watermarks
    // (the streaming twin of the batch q_range_join, same oracle): error
    // events joined to signups they trail within 15 min. Spark refuses a
    // stream-stream join with no equality predicate
    // (streamJoinStreamWithoutEqualityPredicateUnsupportedError — a
    // range-only condition can't key the join state store), so the range
    // is binned exactly like the batch q_range_join: signups key on their
    // 15-min bucket, errors explode to the two buckets a qualifying
    // signup can occupy, and the exact range predicate filters within
    // the bucket-equal pairs — same result set, and the equality key
    // makes the state store hash-partitioned while watermarks GC both
    // buffers, the property that keeps an unbounded 100 TB/day stream
    // join in fixed memory.
    QueryDef("stream_interval_join",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        def stream =
          Tables.normalizeTs(
            spark.readStream.schema(schema).parquet(stagedDir(spark, sf, "events")))
        val errors = stream.filter(col("event_type") === "error")
          .select(col("event_id"), col("ts"))
          .withColumn("bucket", explode(array(
            floor(unix_timestamp(col("ts")) / 900),
            floor(unix_timestamp(col("ts")) / 900) - 1)))
          .withWatermark("ts", "1 hour")
        val signups = stream.filter(col("event_type") === "signup")
          .select(col("event_id").as("signup_id"), col("ts").as("s_ts"))
          .withColumn("s_bucket", floor(unix_timestamp(col("s_ts")) / 900))
          .withWatermark("s_ts", "1 hour")
        val joined = errors.join(signups,
          expr("bucket = s_bucket AND ts >= s_ts AND ts < s_ts + interval 15 minutes"))
        val table = s"stream_ij_${counter.incrementAndGet()}"
        val q = joined.select(col("event_id"), col("signup_id"))
          .writeStream.format("memory").queryName(table)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("event_id"), col("signup_id"))
      },
      Some("""SELECT e.event_id, s.event_id AS signup_id
             |FROM events e JOIN events s
             |  ON e.ts >= s.ts AND e.ts < s.ts + INTERVAL 15 MINUTE
             |WHERE e.event_type = 'error' AND s.event_type = 'signup'
             |ORDER BY e.event_id, signup_id""".stripMargin)),

    // LEFT OUTER stream-stream join — the semantic the inner interval
    // join can't show: an unmatched left row may only be emitted once
    // the watermark PROVES no matching right row can still arrive
    // (here: once it passes ts + 30 min). Equality on user_id keys the
    // state store; both sides carry 1 h watermarks; the time-chunked
    // staging advances the watermark mid-stream so null emissions
    // happen progressively, and the sentinel chunk pushes the final
    // watermark past every real event so the bounded stream flushes
    // its tail — which is exactly why the result can hash-match the
    // plain batch LEFT JOIN. Nulls are coalesced to -1 in both engines
    // (a total order over a nullable key is engine-dependent).
    QueryDef("stream_outer_join",
      (spark, sf) => {
        val dir = stagedTimeChunks(spark, sf, 8, sentinel = true)
        val schema = spark.read.parquet(dir).schema
        def raw = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
        val errors = raw.withWatermark("ts", "1 hour")
          .filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = raw.withWatermark("ts", "1 hour")
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_event_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
        val joined = errors.join(purchases,
          expr("user_id = p_user AND p_ts >= ts AND p_ts < ts + interval 30 minutes"),
          "leftOuter")
        val table = s"stream_oj_${counter.incrementAndGet()}"
        // NO sentinel filter inside the stream: a predicate on the
        // left side's columns is pushed below the EventTimeWatermark
        // node, which would drop the sentinel rows before the
        // watermark observed them and stall it at the real errors'
        // maximum (observed: the last unmatched left never flushed).
        // Sentinels flow through the join and are excluded from the
        // BATCH read-back below instead.
        val q = joined
          .select(col("event_id"), coalesce(col("p_event_id"), lit(-1L)).as("p_event_id"))
          .writeStream.format("memory").queryName(table)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).filter(col("event_id") >= 0)
          .orderBy(col("event_id"), col("p_event_id"))
      },
      Some("""SELECT e.event_id, COALESCE(p.event_id, -1) AS p_event_id
             |FROM events e LEFT JOIN events p
             |  ON e.user_id = p.user_id AND p.event_type = 'purchase'
             |  AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 30 MINUTE
             |WHERE e.event_type = 'error'
             |ORDER BY e.event_id, p_event_id""".stripMargin)),

    // Streaming quality classification: the hashed linear classifier's
    // typed map runs unchanged inside micro-batches (stateless row
    // transform — no state store), proving the model-scoring tier is
    // stream/batch-parity like the rest of the streaming surface. The
    // stream aggregates per keep flag; the oracle scores the same corpus
    // in batch SQL via the FNV replay.
    QueryDef("stream_quality_classifier",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val docs = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
        val scored = graft.ops.TextOps.hashedLinearScore(docs, "text", "doc_id")
        val agg = scored.groupBy(col("keep"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("score")).as("total_score"),
            sum(col("n_tokens")).as("total_tokens"))
        val table = s"stream_qc_${counter.incrementAndGet()}"
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("keep"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
             |),
             |hashed AS (
             |  SELECT doc_id,
             |    CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616 ELSE h END AS BIGINT) AS hs
             |  FROM (
             |    SELECT doc_id,
             |      list_reduce(
             |        list_prepend(CAST(14695981039346656037 AS HUGEINT),
             |          [CAST(unicode(c) AS BIGINT) FOR c IN string_split_regex(t, '')]),
             |        (acc, c) -> ((acc - (acc % 65536) +
             |            CAST(xor(CAST(acc % 65536 AS BIGINT), c) AS HUGEINT))
             |            * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)
             |      ) AS h
             |    FROM tok
             |  )
             |),
             |scored AS (
             |  SELECT doc_id, COUNT(*) AS n_tokens,
             |    CAST(SUM(((hs & 63) * 37) % 21 - 10) AS BIGINT) AS score
             |  FROM hashed GROUP BY doc_id)
             |SELECT CAST(score > 0 AS INT) AS keep, COUNT(*) AS n_docs,
             |  CAST(SUM(score) AS BIGINT) AS total_score,
             |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
             |FROM scored GROUP BY 1 ORDER BY keep""".stripMargin)),

    // Streaming twin of CDC apply: the op log arrives as a stream and
    // each micro-batch folds into the generation-pointer sink through
    // the same compaction+merge operator — read current snapshot, apply,
    // flip a new generation (restart-safe: the checkpoint replays into
    // idempotent generation writes). Sequential batches preserve CDC
    // semantics — a later batch's op wins over an earlier batch's, and
    // within a batch the sequence-number window decides.
    QueryDef("stream_cdc_apply",
      (spark, sf) => {
        import graft.spec.{IdField, LongId, MigrationSpec}
        val (snapshot, logDf) = Shared.cdcScenario(spark, sf)
        val logDir = java.nio.file.Files.createTempDirectory("graft_cdc_log").toString
        logDf.coalesce(1).write.mode("overwrite").parquet(logDir)
        val base = java.nio.file.Files.createTempDirectory("graft_stream_cdc").toString
        val theSpec = MigrationSpec("stream_cdc", source = "", sourceDriver = "stream",
          destination = s"$base/dest", destinationDriver = "parquet",
          sourceIds = Seq(IdField("id", LongId)),
          destinationIds = Seq(IdField("id", LongId)))
        val dest = new graft.drivers.ParquetDestinationDriver
        dest.write(snapshot, theSpec) // gen0: the pre-stream snapshot
        val stream = spark.readStream.schema(logDf.schema).parquet(logDir)
        val q = stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val cur = dest.snapshot(spark, theSpec).get
            dest.write(
              graft.ops.Cdc.applyLog(cur, batch, "id", "op", Seq("seq")), theSpec)
          }
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        dest.snapshot(spark, theSpec).get.orderBy(col("id"))
      },
      Some(Shared.CdcOracle)),

    // Streaming materialized-view maintenance: the IVM merge of
    // etl_ivm_agg run from INSIDE foreachBatch — each arriving CDC
    // micro-batch is compacted, its old contributions fetched through
    // a keys-of-the-delta semi-join on the base, and the ⊕-delta is
    // folded into the generation-pointer MV (read current gen → merge
    // → flip a new gen, restart-safe like stream_cdc_apply). The view
    // is never recomputed from the base; the gate is the same "equals
    // a fresh aggregation of the fully patched table" oracle.
    QueryDef("stream_ivm_agg",
      (spark, sf) => {
        import graft.spec.{IdField, LongId, MigrationSpec}
        import org.apache.spark.sql.expressions.Window
        val (snapshot, logDf) = Shared.cdcScenario(spark, sf)
        val logDir = java.nio.file.Files.createTempDirectory("graft_ivm_log").toString
        logDf.coalesce(1).write.mode("overwrite").parquet(logDir)
        val base = java.nio.file.Files.createTempDirectory("graft_stream_ivm").toString
        val theSpec = MigrationSpec("stream_ivm", source = "", sourceDriver = "stream",
          destination = s"$base/mv", destinationDriver = "parquet",
          sourceIds = Seq(IdField("g", LongId)),
          destinationIds = Seq(IdField("g", LongId)))
        val dest = new graft.drivers.ParquetDestinationDriver
        dest.write(snapshot.groupBy((col("id") % 7).as("g"))
          .agg(count(lit(1)).as("n"), sum(col("bal_cents")).as("s")), theSpec)
        val stream = spark.readStream.schema(logDf.schema).parquet(logDir)
        val q = stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val wSeq = Window.partitionBy(col("id")).orderBy(col("seq").desc)
            val compacted = batch.withColumn("rn", row_number().over(wSeq))
              .filter(col("rn") === 1).drop("rn")
            val oldAff = snapshot
              .join(compacted.select(col("id")), Seq("id"), "left_semi")
              .groupBy((col("id") % 7).as("g"))
              .agg(count(lit(1)).as("n_o"), sum(col("bal_cents")).as("s_o"))
            val newAff = compacted.filter(col("op") =!= "D")
              .groupBy((col("id") % 7).as("g"))
              .agg(count(lit(1)).as("n_n"), sum(col("bal_cents")).as("s_n"))
            val cur = dest.snapshot(spark, theSpec).get
            dest.write(cur
              .join(oldAff.join(newAff, Seq("g"), "full_outer"), Seq("g"), "full_outer")
              .na.fill(0L, Seq("n", "s", "n_o", "s_o", "n_n", "s_n"))
              .select(col("g"),
                (col("n") + col("n_n") - col("n_o")).as("n"),
                (col("s") + col("s_n") - col("s_o")).as("s"))
              .filter(col("n") > 0), theSpec)
          }
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        dest.snapshot(spark, theSpec).get
          .select(col("g"), col("n").as("n_members"), col("s").as("bal_sum"))
          .orderBy(col("g"))
      },
      Some(Shared.IvmOracle)),

    // Streaming twin of the space-saving heavy hitters: the bounded-
    // memory top-k Aggregator runs as a complete-mode streaming
    // aggregate over the live token stream — with capacity ≫ k the
    // frequent items' counts are exact (error ≤ N/capacity), so the
    // result hash-matches the batch-exact oracle like its batch twin.
    QueryDef("stream_heavy_hitters",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val words = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
          .select(explode(split(col("text"), " ")).as("word"))
        val agg = words.agg(
          graft.ops.Sketches.topKUdaf(256, 10)(col("word")).as("topk"))
        val table = s"stream_hh_${counter.incrementAndGet()}"
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table)
          .select(explode(col("topk")).as("kv"))
          .select(col("kv._1").as("word"), col("kv._2").as("cnt"))
          .orderBy(col("cnt").desc, col("word"))
      },
      Some("""SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
             |  SELECT UNNEST(string_split(text, ' ')) AS word FROM documents) t
             |GROUP BY word ORDER BY cnt DESC, word LIMIT 10""".stripMargin)),

    // Streaming twin of the z-score outlier gate — the live-monitoring
    // deployment: per-type mean/σ come from the historical (batch) side
    // in exact integer milli-units, broadcast into every micro-batch,
    // and the stream flags arriving events beyond 1.5σ. Same 128-bit
    // integer discipline as q_outlier_zscore, so the oracle is exact.
    QueryDef("stream_outlier",
      (spark, sf) => {
        val milli = (c: org.apache.spark.sql.Column) =>
          round(c * 1000).cast("long")
        val batch = spark.read.parquet(path(sf, "events"))
          .select(col("event_type"), milli(col("value")).as("v"))
        val vdec = col("v").cast("decimal(19,0)")
        val stats = batch.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
            sum(vdec * vdec).as("s2"))
        val schema = spark.read.parquet(path(sf, "events")).schema
        val stream = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "events"))
          .select(col("event_type"), milli(col("value")).as("v"))
          .join(broadcast(stats), Seq("event_type"))
          .filter(
            abs(col("v") * col("n") - col("s")).cast("double") >
              lit(1.5) * sqrt(
                (col("n").cast("decimal(38,0)") * col("s2") -
                  col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)"))
                  .cast("double")))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_outliers"), sum(col("v")).as("outlier_milli"))
        val table = s"stream_out_${counter.incrementAndGet()}"
        val q = stream.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT event_type,
             |    CAST(ROUND(value*1000) AS BIGINT) AS v FROM events),
             |stats AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(v) AS BIGINT) AS s, SUM(CAST(v AS HUGEINT)*v) AS s2
             |  FROM e GROUP BY event_type)
             |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_outliers,
             |  CAST(SUM(v) AS BIGINT) AS outlier_milli
             |FROM e JOIN stats USING (event_type)
             |WHERE CAST(abs(v*n - s) AS DOUBLE) >
             |  1.5 * sqrt(CAST(CAST(n AS HUGEINT)*s2 - CAST(s AS HUGEINT)*s AS DOUBLE))
             |GROUP BY e.event_type ORDER BY event_type""".stripMargin)),

    // Streaming twin of dq_freshness — the live arrival monitor: a
    // complete-mode per-stream aggregate maintains (count, max event
    // time) as micro-batches land, and the monitoring read computes
    // each stream's lag behind the freshest arrival plus a staleness
    // verdict from that tiny live state (5 rows — the post-stream read
    // is the dashboard query, not a data pass). Exact integer
    // microsecond arithmetic end to end, same oracle discipline as the
    // batch gate.
    QueryDef("stream_freshness",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val stream = Tables.normalizeTs(
            spark.readStream.schema(schema).parquet(stagedDir(spark, sf, "events")))
          .select(col("event_type"), col("ts"),
            expr("unix_micros(ts)").as("us"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), max(col("ts")).as("max_ts"),
            max(col("us")).as("mus"))
        val table = s"stream_fresh_${counter.incrementAndGet()}"
        val q = stream.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val state = spark.table(table)
        state.crossJoin(broadcast(state.agg(max(col("mus")).as("gus"))))
          .select(col("event_type"), col("n"), col("max_ts"),
            expr("(gus - mus) div 1000000").as("lag_s"),
            (expr("(gus - mus) div 1000000") > 3600L).as("stale"))
          .orderBy(col("event_type"))
      },
      Some("""WITH g AS (SELECT MAX(epoch_us(ts)) AS gus FROM events)
             |SELECT event_type, COUNT(*) AS n, MAX(ts) AS max_ts,
             |  CAST((g.gus - MAX(epoch_us(ts))) // 1000000 AS BIGINT) AS lag_s,
             |  ((g.gus - MAX(epoch_us(ts))) // 1000000) > 3600 AS stale
             |FROM events CROSS JOIN g GROUP BY event_type, g.gus
             |ORDER BY event_type""".stripMargin)),

    // Streaming twin of dq_volume_anomaly — the live pipeline-health
    // monitor: a complete-mode per-day aggregate maintains arrival
    // counts as micro-batches land, and the dashboard read scores each
    // day against the median/3×MAD band of the accumulated history
    // (the post-stream scoring runs over the bounded day table, the
    // stream_freshness pattern). Same all-integer lower-median
    // discipline and oracle as the batch gate.
    QueryDef("stream_volume_anomaly",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val daily = Tables.normalizeTs(
            spark.readStream.schema(schema).parquet(stagedDir(spark, sf, "events")))
          .groupBy(to_date(col("ts")).as("event_day"))
          .agg(count(lit(1)).as("n"))
        val table = s"stream_vol_${counter.incrementAndGet()}"
        val q = daily.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val state = spark.table(table)
        val med = state
          .agg(sort_array(collect_list(col("n"))).as("xs"), count(lit(1)).as("nd"))
          .select(expr("xs[CAST((nd-1) div 2 AS INT)]").as("med"))
        val withMed = state.crossJoin(broadcast(med))
          .withColumn("dev", abs(col("n") - col("med")))
        val mad = withMed
          .agg(sort_array(collect_list(col("dev"))).as("ds"), count(lit(1)).as("nd"))
          .select(expr("ds[CAST((nd-1) div 2 AS INT)]").as("mad"))
        withMed.crossJoin(broadcast(mad))
          .select(col("event_day"), col("n"), col("med"), col("mad"),
            (col("mad") > 0 && col("dev") > col("mad") * 3).as("anomaly"))
          .orderBy(col("event_day"))
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) event_day, CAST(COUNT(*) AS BIGINT) n
             |  FROM events GROUP BY 1),
             |m AS (SELECT list_sort(list(n)) xs, COUNT(*) nd FROM daily),
             |med AS (SELECT xs[CAST((nd-1)//2 AS INT) + 1] med FROM m),
             |d AS (SELECT event_day, n, med, ABS(n - med) dev FROM daily CROSS JOIN med),
             |m2 AS (SELECT list_sort(list(dev)) ds, COUNT(*) nd FROM d),
             |mad AS (SELECT ds[CAST((nd-1)//2 AS INT) + 1] mad FROM m2)
             |SELECT event_day, n, med, mad,
             |  (mad > 0 AND dev > 3*mad) AS anomaly
             |FROM d CROSS JOIN mad ORDER BY event_day""".stripMargin)),

    // Streaming twin of the count-min sketch: the same Aggregator runs
    // as a complete-mode streaming aggregate, monitoring the live token
    // stream's counts for a watchlist derived from the historical
    // (batch) top-20 — the standard sketch-on-stream deployment. Same
    // in-query error-bound gate as text_countmin; the oracle is the
    // batch-exact side.
    QueryDef("stream_countmin",
      (spark, sf) => {
        val exact = Shared.exactTokenCounts(spark, sf)
        val top = exact.orderBy(desc("exact_cnt"), col("tok")).limit(20)
        val words = top.collect().map(_.getString(0)).toSeq
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val stream = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
          .select(explode(split(col("text"), " ")).as("tok"))
          .agg(graft.ops.Sketches.countMinUdaf(4, 1024, words)(col("tok")).as("ests"))
        val table = s"stream_cm_${counter.incrementAndGet()}"
        val q = stream.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val ests = spark.table(table)
          .select(explode(col("ests")).as("e"))
          .select(col("e._1").as("tok"), col("e._2").as("est_cnt"))
        Shared.countMinGate(exact, top, ests, width = 1024)
      },
      Some(Shared.CountMinOracle)),

    // Streaming twin of the BPE encoder: the identical typed flatMap
    // (merges broadcast once) runs unchanged inside micro-batches —
    // tokenize-as-data-arrives, the ingestion-time shape of a training
    // pipeline. Stateless transform + one complete-mode per-piece
    // aggregate; the oracle re-derives the piece stream in batch SQL
    // via the same nested single-pass replaces as text_bpe_encode.
    QueryDef("stream_bpe_encode",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val docs = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
          .filter(col("doc_id") % 10 === 3)
        val pieces = graft.ops.Subword.bpeEncode(
          docs, "doc_id", "text", graft.ops.Subword.DefaultMerges)
        val agg = pieces.groupBy(col("piece"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("doc_id_sum"))
        val table = s"stream_bpe_${counter.incrementAndGet()}"
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("piece"))
      },
      Some {
        val spaced = "regexp_replace(word, '(.)', ' \\1 ', 'g')"
        val replaced = graft.ops.Subword.DefaultMerges.foldLeft(spaced) {
          case (acc, (l, r)) => s"replace($acc, ' $l  $r ', ' $l$r ')"
        }
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
           |  FROM documents WHERE doc_id % 10 = 3
           |),
           |enc AS (
           |  SELECT doc_id, unnest(string_split(trim($replaced), '  ')) AS piece
           |  FROM toks WHERE word <> ''
           |)
           |SELECT piece, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
           |FROM enc GROUP BY piece ORDER BY piece""".stripMargin
      }),

    // Streaming ordered funnel: q_funnel's stage report computed at
    // ingest by the FunnelProcessor state machine — four monotone
    // booleans per user in RocksDB (O(active users) state, no timers:
    // nothing ever closes). The processor re-emits a key's current
    // flags each batch; the batch-side max-per-user before the stage
    // totals is exact for any emission count. Oracle = the batch
    // twin's (Shared.FunnelOracle — stream/batch parity).
    QueryDef("stream_funnel",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        def fixTs(df: DataFrame): DataFrame = Tables.normalizeTs(df)
        val real = fixTs(spark.readStream.schema(schema)
            .parquet(stagedDir(spark, sf, "events")))
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        val prevProvider = spark.conf
          .getOption("spark.sql.streaming.stateStore.providerClass")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val flags = graft.streaming.StreamingIngest.funnelFlags(
            real, "ts", "user_id", "event_id", "event_type",
            Seq("signup", "view", "click", "purchase"))
          val table = s"stream_funnel_${counter.incrementAndGet()}"
          // transformWithState queries do not quiesce under
          // awaitTermination (see StreamingSpec / stream_sessionize):
          // run a short-period trigger and poll the sink until the
          // batch lands and the row count is stable
          val q = flags.toDF().writeStream.format("memory").queryName(table)
            .outputMode("append").trigger(Trigger.ProcessingTime(100L)).start()
          try {
            // completeness anchor: every stage-typed user must have
            // reached the sink before the flags are aggregated — two
            // equal counts 150 ms apart can both be sampled between
            // micro-batches, so count stability alone is not proof
            val expectedUsers = fixTs(spark.read.parquet(path(sf, "events")))
              .filter(col("event_type")
                .isin("signup", "view", "click", "purchase"))
              .select(col("user_id")).distinct().count()
            val deadline = System.currentTimeMillis + sinkDeadlineMs
            var n = -1L
            var stable = 0
            var users = -1L
            while ((stable < 2 || users != expectedUsers) &&
                System.currentTimeMillis < deadline) {
              Thread.sleep(150)
              val c = spark.table(table).count()
              if (c > 0 && c == n) stable += 1 else { stable = 0; n = c }
              if (stable >= 2)
                users = spark.table(table).select(col("userId")).distinct().count()
            }
            // a partial sink must fail loudly, not surface later as
            // an opaque oracle hash mismatch
            if (users != expectedUsers) throw new IllegalStateException(
              s"stream_funnel sink incomplete after ${sinkDeadlineMs / 1000}s: " +
                s"$users of $expectedUsers users present")
          } finally q.stop()
          spark.table(table)
            .groupBy(col("userId"))
            .agg(max(col("f1")).as("u1"), max(col("f2")).as("u2"),
              max(col("f3")).as("u3"), max(col("f4")).as("u4"))
            .agg(sum(col("u1")).cast("long").as("users_signup"),
              sum(col("u2")).cast("long").as("users_view"),
              sum(col("u3")).cast("long").as("users_click"),
              sum(col("u4")).cast("long").as("users_purchase"))
        } finally prevProvider match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      },
      Some(Shared.FunnelOracle)),

    // Streaming gap fill: q_gap_fill's LAST_VALUE IGNORE NULLS computed
    // at ingest by the GapFillProcessor — one (long, bool) carry per
    // user in RocksDB, O(active users) state, no timers. Exactly one
    // output row per input event (append mode), so the completeness
    // anchor is exact: the sink must hold precisely |events| rows
    // before aggregating. Oracle = the batch twin's
    // (Shared.GapFillOracle — stream/batch parity).
    QueryDef("stream_gap_fill",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        def fixTs(df: DataFrame): DataFrame = Tables.normalizeTs(df)
        val real = fixTs(spark.readStream.schema(schema)
            .parquet(stagedDir(spark, sf, "events")))
          .withColumn("reading_cents",
            when(col("event_type") === "purchase", Shared.cents(col("value"))))
          .select(col("user_id"), col("ts"), col("event_id"), col("reading_cents"))
        val prevProvider = spark.conf
          .getOption("spark.sql.streaming.stateStore.providerClass")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val filled = graft.streaming.StreamingIngest.gapFill(
            real, "ts", "user_id", "event_id", "reading_cents")
          val table = s"stream_gf_${counter.incrementAndGet()}"
          // transformWithState queries do not quiesce under
          // awaitTermination (see stream_funnel): short-period
          // trigger + poll, anchored on the exact expected row count
          val expected = spark.read.parquet(path(sf, "events")).count()
          val q = filled.toDF().writeStream.format("memory").queryName(table)
            .outputMode("append").trigger(Trigger.ProcessingTime(100L)).start()
          try {
            val deadline = System.currentTimeMillis + sinkDeadlineMs
            var n = -1L
            while (n != expected && System.currentTimeMillis < deadline) {
              Thread.sleep(150)
              n = spark.table(table).count()
            }
            if (n != expected) throw new IllegalStateException(
              s"stream_gap_fill sink incomplete after ${sinkDeadlineMs / 1000}s: $n of $expected rows")
          } finally q.stop()
          spark.table(table).select(
            col("eventId").as("event_id"), col("userId").as("user_id"),
            col("readingCents").as("reading_cents"),
            col("filledCents").as("filled_cents"))
            .orderBy(col("event_id"))
        } finally prevProvider match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      },
      Some(Shared.GapFillOracle)),

    // Streaming unigram-LM encode: the text_unigram_viterbi tokenizer
    // at ingest. Piece costs come from the STATIC reference corpus (the
    // batch vocab builder — bounded driver collect, same budget as
    // bpeTrain) and are broadcast once; each micro-batch row then
    // segments through the identical typed Viterbi pass — per
    // OCCURRENCE here rather than per distinct word, which sums
    // identically because the DP is a pure function of the word.
    // Complete-mode per-doc totals; oracle = the batch twin's
    // (stream/batch parity, Shared.UnigramViterbiOracle).
    QueryDef("stream_unigram_encode",
      (spark, sf) => {
        import spark.implicits._
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val wf = spark.read.parquet(path(sf, "documents"))
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        val costs = graft.ops.Subword.unigramVocabCosts(wf, maxPieceLen = 4, topMulti = 16)
        val bCosts = spark.sparkContext.broadcast(costs.toMap)
        val docs = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
        val seg = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .as[(Long, String)]
          .map { case (id, w) =>
            val (c, n) = graft.ops.Subword.viterbiSegment(w, bCosts.value, maxPieceLen = 4)
            (id, c, n.toLong)
          }
          .toDF("doc_id", "w_cost", "w_pieces")
        val agg = seg.groupBy(col("doc_id"))
          .agg(sum(col("w_pieces")).as("n_pieces"),
            sum(col("w_cost")).as("cost_micro"))
        val table = s"stream_unigram_${counter.incrementAndGet()}"
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("doc_id"))
      },
      Some(Shared.UnigramViterbiOracle)),

    // Streaming OOV monitoring: the text_oov_rate report computed as
    // data arrives — a static top-V vocabulary (driver-bounded, built
    // once from the reference corpus) broadcast into each micro-batch,
    // per-source counters in complete mode. The ingest-time shape of a
    // tokenizer-drift monitor; oracle = the batch twin's.
    QueryDef("stream_oov_rate",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val docs = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
        val vocab = Shared.exactTokenCounts(spark, sf)
          .orderBy(desc("exact_cnt"), col("tok")).limit(16)
          .select(col("tok"), lit(1).as("__in"))
        val agg = docs
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .join(broadcast(vocab), Seq("tok"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("__in").isNull, 1L).otherwise(0L)).as("oov_tokens"))
          .withColumn("oov_rate", col("oov_tokens").cast("double") / col("n_tokens"))
        val table = s"stream_oov_${counter.incrementAndGet()}"
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("source"))
      },
      Some("""WITH toks AS (
             |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
             |cnt AS (SELECT tok, COUNT(*) c FROM toks GROUP BY tok),
             |vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT 16)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |  CAST(COUNT(*) FILTER (tok NOT IN (SELECT tok FROM vocab)) AS BIGINT)
             |    AS oov_tokens,
             |  CAST(COUNT(*) FILTER (tok NOT IN (SELECT tok FROM vocab)) AS DOUBLE)
             |    / COUNT(*) AS oov_rate
             |FROM toks GROUP BY source ORDER BY source""".stripMargin)),

    // Streaming multimodal: REAL image decode + perceptual hash (JDK
    // ImageIO, 8×8 aHash) running INSIDE micro-batches — the ingest-time
    // shape of a multimodal pipeline (hash media as it lands, join
    // against a dedup index downstream). The codec passes are typed
    // Dataset.mapPartitions, so the exact batch operators compose with
    // readStream unchanged; stateless transform, append mode. Oracle =
    // mm_image_ahash's closed-form pixel replay (stream/batch parity).
    QueryDef("stream_image_features",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val docs = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
          .select(col("doc_id"))
        val hashed = graft.ops.Multimodal.imageHashes(
          graft.ops.Multimodal.syntheticGradientImages(docs, "doc_id"), "doc_id")
        val table = s"stream_mm_${counter.incrementAndGet()}"
        val q = hashed.writeStream.format("memory").queryName(table)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("doc_id"))
      },
      Some("""WITH g AS (
             |  SELECT d.doc_id, y*8 + x AS idx,
             |    (d.doc_id + 7*((x*(8 + d.doc_id%13))//8)
             |       + 13*((y*(8 + d.doc_id%7))//8)) % 256 AS v
             |  FROM documents d, range(8) r1(x), range(8) r2(y)),
             |m AS (SELECT doc_id, SUM(v)/64.0 mean FROM g GROUP BY doc_id)
             |SELECT g.doc_id,
             |  CAST(SUM(CASE WHEN v > mean AND idx >= 32
             |    THEN (CAST(1 AS BIGINT) << (idx - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi,
             |  CAST(SUM(CASE WHEN v > mean AND idx < 32
             |    THEN (CAST(1 AS BIGINT) << idx) ELSE 0 END) AS BIGINT) AS ahash_lo
             |FROM g JOIN m USING (doc_id)
             |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin)),

    // Streaming twin of epoch-mixture materialization: the expansion is
    // a stateless per-row CASE + explode, so it runs unchanged on a
    // micro-batch — the shape of an ingest pipeline that replicates
    // scarce-source documents into the training mix as they arrive.
    // Same recipe, same md5 draw, same oracle as text_mix_epochs:
    // stream/batch parity by construction.
    QueryDef("stream_mix_epochs",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val docs = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
        val expanded = graft.ops.TextOps.epochExpand(
            docs, "doc_id", "source",
            factors = Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 0.0),
            defaultFactor = 1.25, salt = "mix9")
          .select(col("doc_id"), col("source"), col("epoch"))
        val table = s"stream_mix_${counter.incrementAndGet()}"
        val q = expanded.writeStream.format("memory").queryName(table)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("doc_id"), col("epoch"))
      },
      Some {
        def thr(f: Double) =
          f"${math.round((f - math.floor(f)) * 0xFFFFFFFFL)}%08x"
        s"""WITH f AS (
           |  SELECT doc_id, source,
           |    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0
           |      WHEN 'src2' THEN 0 ELSE 1 END
           |    + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'mix9'), 1, 8) <
           |        CASE source WHEN 'src0' THEN '${thr(2.5)}'
           |          WHEN 'src1' THEN '${thr(0.4)}'
           |          WHEN 'src2' THEN '${thr(0.0)}'
           |          ELSE '${thr(1.25)}' END
           |      THEN 1 ELSE 0 END AS n
           |  FROM documents)
           |SELECT doc_id, source, CAST(e AS BIGINT) AS epoch
           |FROM f, LATERAL unnest(range(1, n + 1)) t(e)
           |ORDER BY doc_id, epoch""".stripMargin
      }),

    // Streaming twin of the ANN tier — the online-serving shape: the
    // IVF index (k-means lists + centroids) is trained ONCE in batch
    // and becomes the static side; queries arrive as a STREAM and each
    // micro-batch probes its nprobe nearest lists through the same
    // ivfProbes/ivfScore operators the batch path uses (stateless typed
    // flatMap + stream-static equi-join on the list id — never a scan
    // of the whole corpus per query). Scored candidates append to the
    // sink; ranking is a batch top-k over the accumulated scores. The
    // gate emits one (query_id, k) row per query ONLY when (a) the
    // stream-side ranking is IDENTICAL to the batch ivfTopK rankings —
    // stream/batch parity on the same deterministic index — and (b)
    // recall against the in-query exact brute-force top-k clears the
    // IVF tier's bound (0.4, sim_ann_ivf's). The oracle lists every
    // query unconditionally, so a parity break or recall collapse
    // empties the result and fails the driver check.
    QueryDef("stream_ann_probe",
      (spark, sf) => {
        import graft.ops.Similarity
        val corpus = spark.read.parquet(path(sf, "embeddings"))
        val (assigned, cents) = Similarity.ivfIndex(
          corpus, "vec_id", "embedding", nlist = 16, iterations = 3)
        val schema = corpus.schema
        val qStream = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "embeddings"))
          .filter(col("vec_id") < 10)
        val scored = Similarity.ivfScore(assigned,
            Similarity.ivfProbes(qStream, "vec_id", "embedding", cents, nprobe = 4))
          .select(col("query_id"), col("neighbor_id"), col("sim"))
        val table = s"stream_ann_${counter.incrementAndGet()}"
        val q = scored.writeStream.format("memory").queryName(table)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()

        val streamTopK = Similarity.rankTopK(spark.table(table), 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
        val queries = corpus.filter(col("vec_id") < 10)
        // batch side reuses the SAME trained index (assigned, cents) the
        // stream probed — not ivfTopK, which would retrain: k-means sums
        // floats in shuffle-fetch order, so two independent trainings
        // can differ in low-order bits, flip a list assignment, and
        // break the parity gate flakily. One training also saves the
        // second full k-means pass.
        val batchTopK = Similarity.rankTopK(
            Similarity.ivfScore(assigned,
              Similarity.ivfProbes(queries, "vec_id", "embedding", cents, nprobe = 4)),
            5)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
        val parity = streamTopK.exceptAll(batchTopK)
          .unionAll(batchTopK.exceptAll(streamTopK))
          .agg(count(lit(1)).as("n_diff"))
        val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
        val hits = streamTopK.select(col("query_id"), col("neighbor_id"))
          .join(exact.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
        val meanRecall = queries.select(col("vec_id").as("query_id"))
          .join(hits, Seq("query_id"), "left")
          .agg(avg(coalesce(col("n_hits"), lit(0)) / 5).as("mean_recall"))
        queries.select(col("vec_id").as("query_id"))
          .crossJoin(parity).crossJoin(meanRecall)
          .filter(col("n_diff") === 0 && col("mean_recall") >= 0.4)
          .select(col("query_id"), lit(5).as("k"))
          .orderBy(col("query_id"))
      },
      Some("""SELECT vec_id AS query_id, 5 AS k FROM embeddings
             |WHERE vec_id < 10 ORDER BY query_id""".stripMargin)),

    // Streaming twin of the hybrid-RRF retrieval tier: probes arrive as
    // micro-batches (their vectors on one stream, their text on
    // another), each scored against STATIC corpus-side structures — the
    // dense ranker is a stateless stream-static non-equi join against
    // the embedding corpus, the sparse ranker a stream-static equi-join
    // of exploded probe terms against the inverted term index (df and
    // |corpus| precomputed batch-side, the way a serving deployment
    // refreshes its index offline) with one stateful (probe, doc) sum.
    // Ranking + RRF fusion run batch-side on the sinks through the SAME
    // Retrieval operators as the batch twin, and emission is gated on
    // exact stream/batch parity (exceptAll both ways = 0), so the
    // shared oracle replays the output exactly.
    QueryDef("stream_hybrid_rrf",
      (spark, sf) => {
        import graft.ops.{Retrieval, Similarity}
        val docs = Tables.load(spark, sf, "documents")
        val emb = Tables.load(spark, sf, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding"))
        // static index side (offline-refreshed in a deployment)
        val corpus = emb.select(col("doc_id"), col("embedding").as("cv"))
        def explodeTerms(df: DataFrame, idAs: String): DataFrame =
          df.select(col(idAs),
            explode(array_distinct(
              filter(split(lower(col("text")), "[^a-z]+"), t => t =!= ""))).as("term"))
        // the persisted impact index holds exactly one row per
        // (term, doc) — it IS the static distinct-terms table this
        // gate re-tokenized per run (r22, RetrievalLayouts)
        val terms = RetrievalLayouts.bm25ImpactIndex(spark, sf)
          .select(col("doc_id"), col("term"))
        val nDocsV = docs.count().toDouble
        val probeTermSet = terms
          .join(emb.select(col("doc_id").as("probe_id")).filter(col("probe_id") % 100 === 7 && col("probe_id") < 2000),
            terms("doc_id") === col("probe_id"))
          .select("term").distinct()
        val dfreq = terms.join(broadcast(probeTermSet), Seq("term"))
          .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
        // dense: probe vectors stream against the static corpus
        val eSchema = spark.read.parquet(path(sf, "embeddings")).schema
        val probeVecStream = spark.readStream.schema(eSchema)
          .parquet(stagedDir(spark, sf, "embeddings"))
          .filter(col("vec_id") % 100 === 7 && col("vec_id") < 2000)
          .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
        val denseScored = probeVecStream
          .join(corpus, col("doc_id") =!= col("probe_id"))
          .select(col("probe_id"), col("doc_id"),
            round(Similarity.cosine(col("pv"), col("cv")), 6).as("sim"))
        val dTable = s"stream_hrrf_d_${counter.incrementAndGet()}"
        val q1 = denseScored.writeStream.format("memory").queryName(dTable)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        try q1.awaitTermination() finally q1.stop()
        // sparse: probe text streams, terms explode statelessly, join the
        // static inverted index, one stateful per-(probe, doc) idf sum.
        // The probe set is defined by the EMBEDDINGS table (the batch
        // twin's and the oracle's contract) — the corpora can differ in
        // extent (at sf0.1 documents outnumber embeddings), so the
        // streamed document ids are semi-joined against the static
        // embedding-derived probe list, not just modulo-filtered.
        val probeIdsStatic = emb.select(col("doc_id").as("probe_id"))
          .filter(col("probe_id") % 100 === 7 && col("probe_id") < 2000)
        val dSchema = spark.read.parquet(path(sf, "documents")).schema
        val probeTermStream = explodeTerms(
          spark.readStream.schema(dSchema)
            .parquet(stagedDir(spark, sf, "documents"))
            .filter(col("doc_id") % 100 === 7 && col("doc_id") < 2000)
            .select(col("doc_id").as("probe_id"), col("text"))
            .join(broadcast(probeIdsStatic), Seq("probe_id")), "probe_id")
        val sparseScored = probeTermStream
          .join(terms.join(broadcast(dfreq), Seq("term")), Seq("term"))
          .filter(col("doc_id") =!= col("probe_id"))
          .groupBy(col("probe_id"), col("doc_id"))
          .agg(round(sum(log(lit(nDocsV) / col("df"))), 6).as("score"))
        val sTable = s"stream_hrrf_s_${counter.incrementAndGet()}"
        val q2 = sparseScored.writeStream.format("memory").queryName(sTable)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q2.awaitTermination() finally q2.stop()
        // rank + fuse through the SAME operators as the batch twin
        val fusedStream = Retrieval.rrfFuse(
          Retrieval.rankTopK(spark.table(dTable), "sim", 20),
          Retrieval.rankTopK(spark.table(sTable), "score", 20),
          kFuse = 60, topOut = 10)
        val fusedBatch = RetrievalLayouts.hybridFused(spark, sf)
        // Parity gate, evaluated ONCE per side and compared on the
        // EXECUTORS (see parityHolds — the driver sees three scalars,
        // never the ≤ topOut·|probes| rank lists, which scale with the
        // corpus at 100 TB).
        val gateCols = Seq(col("probe_id"), col("fused_rank"), col("doc_id"),
          col("dense_rank"), col("sparse_rank"))
        val gated = if (parityHolds(fusedStream.select(gateCols: _*),
            fusedBatch.select(gateCols: _*))) fusedStream
          else fusedStream.limit(0)
        gated
          .select(col("probe_id"), col("fused_rank"), col("doc_id"),
            col("rrf"), col("dense_rank"), col("sparse_rank"))
          .orderBy(col("probe_id"), col("fused_rank"))
      },
      Some(Shared.HybridRrfOracle)),

    // Streaming twin of per-probe BM25 — the classic serving shape: the
    // posting list is IMPACT-INDEXED offline (per-(term, doc) BM25
    // contribution precomputed from tf/df/dl/corpus stats, the static
    // side a deployment refreshes with the index build), and arriving
    // probes just explode to their distinct terms, semi-join the posting
    // list (stream-static equi join, stateless), and fold one stateful
    // (probe, doc) sum. Ranking runs batch-side on the sink through the
    // same rankTopK; emission is gated on exact stream/batch parity with
    // the batch operator, so the shared oracle replays exactly.
    QueryDef("stream_probe_bm25",
      (spark, sf) => {
        import graft.ops.Retrieval
        val probes = RetrievalLayouts.probes(spark, sf)
        // offline impact index: per-(term, doc) BM25 contribution — the
        // PERSISTED shared layout (r22): a deployment refreshes this with
        // the index build; rebuilding it inside every micro-batch run was
        // re-deriving the static side per serving pass (RetrievalLayouts)
        val postings = RetrievalLayouts.bm25ImpactIndex(spark, sf)
        // probes stream: distinct terms of each arriving probe document
        val dSchema = spark.read.parquet(path(sf, "documents")).schema
        val probeTermStream = spark.readStream.schema(dSchema)
          .parquet(stagedDir(spark, sf, "documents"))
          .filter(col("doc_id") % 100 === 7 && col("doc_id") < 2000)
          .select(col("doc_id").as("probe_id"),
            explode(array_distinct(
              filter(split(lower(col("text")), "[^a-z]+"), t => t =!= ""))).as("term"))
          .join(broadcast(probes), Seq("probe_id"))
        val scored = probeTermStream
          .join(postings, Seq("term"))
          .filter(col("doc_id") =!= col("probe_id"))
          .groupBy(col("probe_id"), col("doc_id"))
          .agg(round(sum(col("contrib")), 6).as("score"))
        val table = s"stream_pbm25_${counter.incrementAndGet()}"
        val q = scored.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val streamRanked = Retrieval.rankTopK(spark.table(table), "score", 20)
          .select(col("probe_id"), col("r"), col("doc_id"), col("score"))
        val batchRanked = RetrievalLayouts.bm25Top20(spark, sf)
          .select(col("probe_id"), col("r"), col("doc_id"), col("score"))
        // Parity gate, evaluated ONCE per side (each side frozen with an
        // eager localCheckpoint — a lazy exceptAll over the original
        // plans would re-evaluate the batch float aggregate inside each
        // compare leg, and independent evaluations can disagree in the
        // 6th decimal on a rounding-boundary value) and compared on the
        // EXECUTORS: the ranked lists are ≤ k·|probes| rows, which
        // scales with the corpus — see parityHolds.
        val gated = if (parityHolds(
            streamRanked.select(col("probe_id"), col("r"), col("doc_id")),
            batchRanked.select(col("probe_id"), col("r"), col("doc_id"))))
          streamRanked
          else streamRanked.limit(0)
        gated
          .select(col("probe_id"), col("r").cast("int").as("r"),
            col("doc_id"), col("score"))
          .orderBy(col("probe_id"), col("r"))
      },
      Some(Shared.ProbeBm25Oracle)),

    // Streaming DSIR scoring: the batch tier trains the hashed-unigram
    // importance model (text_dsir_select); the stream scores each
    // arriving document STATELESSLY against the frozen weight table —
    // "score the crawl as it lands". Weights ship as fixed-point
    // micro-nats (CAST(ROUND(logw·10⁶) AS LONG), ≤256 entries, a map
    // literal in the plan), so the per-doc fold over the token array
    // and the oracle's join+SUM are exact integer arithmetic — order-
    // independent, no float parity risk — the impact-indexed BM25
    // trick. Per-source rollup in complete mode keeps state bounded at
    // #sources rows.
    QueryDef("stream_dsir_select",
      (spark, sf) => {
        val docsStatic = load(spark, sf, "documents")
        val qw = graft.ops.Curation
          .dsirMicroWeights(docsStatic, "text", col("source") === "src0")
          .collect().map(r => (r.getString(0), r.getLong(1)))
        val wMap = map(qw.flatMap { case (b, w) => Seq(lit(b), lit(w)) }: _*)
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val docs = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
        val scored = docs.select(col("source"),
          aggregate(
            transform(split(col("text"), " "),
              t => coalesce(element_at(wMap, substring(md5(t), 1, 2)), lit(0L))),
            lit(0L), (acc, x) => acc + x).as("q_score"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        val agg = scored.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("q_score") > 0, 1L).otherwise(0L)).as("n_selected"),
            sum(col("q_score")).as("total_q"),
            sum(col("n_tokens")).as("total_tokens"))
        val table = s"stream_dsir_${counter.incrementAndGet()}"
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("source"))
      },
      Some("""WITH bk AS (SELECT doc_id, source, substr(md5(tok),1,2) b FROM (
             |    SELECT doc_id, source, unnest(string_split(text,' ')) tok FROM documents)),
             |cnts AS (SELECT b, COUNT(*) rc,
             |    COUNT(*) FILTER (WHERE source = 'src0') tc FROM bk GROUP BY b),
             |tt AS (SELECT SUM(rc) r, SUM(tc) t FROM cnts),
             |w AS (SELECT b, CAST(ROUND((
             |    LN((tc + 0.5) / ((SELECT t FROM tt) + 128.0))
             |    - LN((rc + 0.5) / ((SELECT r FROM tt) + 128.0))) * 1000000) AS BIGINT) qw
             |  FROM cnts),
             |ds AS (SELECT doc_id, source, SUM(qw) q, COUNT(*) nt
             |  FROM bk JOIN w USING (b) GROUP BY doc_id, source)
             |SELECT source, COUNT(*) AS n_docs,
             |  COUNT(*) FILTER (WHERE q > 0) AS n_selected,
             |  CAST(SUM(q) AS BIGINT) AS total_q,
             |  CAST(SUM(nt) AS BIGINT) AS total_tokens
             |FROM ds GROUP BY source ORDER BY source""".stripMargin)),

    // Streaming k-anonymity: the batch QI census (group sizes over
    // (lang, source, length-bucket)) freezes as the static side; each
    // arriving document is suppressed or passed STATELESSLY by one
    // broadcast stream-static join — privacy enforcement at ingest
    // speed. Per-(source, suppressed) rollup in complete mode keeps
    // state at ≤ 2·#sources rows.
    QueryDef("stream_kanon",
      (spark, sf) => {
        val qi = Seq("lang", "source", "len_bucket")
        val census = load(spark, sf, "documents")
          .select(col("lang"), col("source"),
            expr("n_chars div 500").cast("string").as("len_bucket"))
          .groupBy(qi.map(col): _*).agg(count(lit(1)).as("qi_n"))
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val docs = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
          .withColumn("len_bucket", expr("n_chars div 500").cast("string"))
        val agg = docs.join(broadcast(census), qi)
          .withColumn("suppressed", col("qi_n") < 5)
          .groupBy(col("source"), col("suppressed"))
          .agg(count(lit(1)).as("n_docs"))
        val table = s"stream_ka_${counter.incrementAndGet()}"
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("source"), col("suppressed"))
      },
      Some("""WITH q AS (SELECT doc_id, lang, source,
             |    CAST(n_chars // 500 AS VARCHAR) len_bucket FROM documents),
             |g AS (SELECT lang, source, len_bucket, COUNT(*) n
             |  FROM q GROUP BY lang, source, len_bucket)
             |SELECT q.source, n < 5 AS suppressed, COUNT(*) AS n_docs
             |FROM q JOIN g USING (lang, source, len_bucket)
             |GROUP BY q.source, suppressed
             |ORDER BY source, suppressed""".stripMargin)),

    // Streaming distribution-drift detection: the event stream's
    // per-hour event-type distribution vs the corpus-wide reference,
    // KL(window ‖ reference) per closed window — the monitor that
    // catches a crawler or producer silently changing its mix. The
    // windowed counts are the real streaming work (watermark + tumbling
    // window, the stream_time_window machinery); KL is a deterministic
    // epilogue over the #windows × #types result — integer counts in,
    // one rounded double out, so the oracle replays it exactly.
    QueryDef("stream_drift_kl",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val raw = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "events"))
        val events = Tables.normalizeTs(raw)
        val counts = graft.streaming.StreamingIngest.windowedCounts(
            events, "ts", watermarkDelay = "1 hour", windowLen = "1 hour")
          .select(col("window_start").as("ws"), col("event_type"),
            col("n_events").as("c"))
        val table = s"stream_kl_${counter.incrementAndGet()}"
        val q = counts.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val wc = spark.table(table)
        val ev = load(spark, sf, "events")
        val tot = ev.count()
        val ref = ev.groupBy(col("event_type")).agg(count(lit(1)).as("rc"))
        // per-window totals via a window fn over the already-aggregated
        // (#windows × #types) result — no self-join on the memory view
        // (conflicting-attribute hazard), no extra shuffle
        val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("ws"))
        wc.withColumn("n", sum(col("c")).over(wn))
          .join(broadcast(ref), Seq("event_type"))
          .groupBy(col("ws"), col("n"))
          .agg(round(sum((col("c") / col("n")) *
            log((col("c") / col("n")) / (col("rc") / lit(tot.toDouble)))), 6).as("kl"))
          .select(date_format(col("ws"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("n").cast("long").as("n_events"), col("kl"))
          .orderBy(col("hour"))
      },
      Some("""WITH wc AS (SELECT date_trunc('hour', ts) ws, event_type, COUNT(*) c
             |  FROM events GROUP BY 1, 2),
             |ref AS (SELECT event_type, COUNT(*) rc FROM events GROUP BY 1),
             |tot AS (SELECT COUNT(*) n FROM events),
             |wn AS (SELECT ws, SUM(c) n FROM wc GROUP BY ws)
             |SELECT strftime(wc.ws, '%Y-%m-%d %H:%M:%S') AS hour,
             |  CAST(wn.n AS BIGINT) AS n_events,
             |  ROUND(SUM((CAST(c AS DOUBLE) / wn.n) *
             |    LN((CAST(c AS DOUBLE) / wn.n) /
             |        (CAST(rc AS DOUBLE) / (SELECT n FROM tot)))), 6) AS kl
             |FROM wc JOIN wn USING (ws) JOIN ref USING (event_type)
             |GROUP BY wc.ws, wn.n ORDER BY hour""".stripMargin)),

    // Streaming twin of the exact decayed counters (`q_decay_counts`):
    // the reference instant freezes from one bounded batch scan (a
    // scalar — the frozen-census pattern), then every arriving event
    // folds its dyadic weight 2^-age_h into a per-type stateful
    // aggregation in complete mode. Ages cap at 30 half-lives so each
    // weight is an exact dyadic rational — the partial sums the state
    // store accumulates across micro-batches are order-independent
    // IEEE arithmetic, which is what makes a STREAMING fold of doubles
    // hash-match the batch oracle at all. Same oracle as the batch
    // gate.
    QueryDef("stream_decay_counts",
      (spark, sf) => {
        val maxUs = load(spark, sf, "events")
          .agg(max(expr("unix_micros(ts)"))).first().getLong(0)
        val schema = spark.read.parquet(path(sf, "events")).schema
        val raw = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "events"))
        val agg = Tables.normalizeTs(raw)
          .select(col("event_type"),
            expr(s"least(($maxUs - unix_micros(ts)) div 3600000000, 30)").as("age_h"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(pow(lit(2.0), -col("age_h"))).as("decayed_weight"))
        val table = s"stream_decay_${counter.incrementAndGet()}"
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table).orderBy(col("event_type"))
      },
      Some(Shared.DecayOracle)),

    // Streaming DP count release — the continual-observation twin of
    // privacy_dp_counts: per-type stateful counts in complete mode,
    // each trigger's release re-noised through the SAME seeded
    // discrete-Laplace mechanism (the noise is a pure projection of
    // the group key + salt, so a stream release and a batch release of
    // the same counts are identical — the property that makes seeded
    // DP auditable). State is one long per event type; the dashboard
    // read takes the final release. Same oracle as the batch gate.
    QueryDef("stream_dp_counts",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val raw = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "events"))
        val agg = raw.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"))
        val table = s"stream_dp_${counter.incrementAndGet()}"
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table)
          // PUBLIC test-gate salt (bit-exact oracle replay) — production
          // releases supply a secret rotated salt, see dpGeometricNoise
          .withColumn("dp_noise", graft.ops.Curation.dpGeometricNoise(col("event_type"), "dp"))
          .withColumn("dp_count", col("n_events") + col("dp_noise"))
          .orderBy(col("event_type"))
      },
      Some(Shared.DpCountsOracle)),

    // Streaming OHLC bars — the live-market twin of q_ohlc_bars: the
    // same per-(event_type, hour) open/high/low/close aggregate, built
    // as a stateful windowed aggregation over the micro-batched event
    // stream. min_by/max_by under the total (ts, event_id) struct order
    // are order-commutative merges, so the state store's cross-batch
    // combine is exact whatever order events arrive — which is why a
    // STREAM can hash-match the batch bar oracle. Complete mode +
    // AvailableNow drains the staged files; state is one small struct
    // per live bar (bounded by #types × #hours).
    QueryDef("stream_ohlc_bars",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val raw = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "events"))
        val agg = Tables.normalizeTs(raw)
          .select(col("event_type"),
            date_trunc("hour", col("ts")).as("bar"),
            Shared.cents(col("value")).as("v"),
            struct(col("ts"), col("event_id")).as("ord"))
          .groupBy(col("event_type"), col("bar"))
          .agg(
            min_by(col("v"), col("ord")).as("open"),
            max(col("v")).as("high"),
            min(col("v")).as("low"),
            max_by(col("v"), col("ord")).as("close"),
            count(lit(1)).as("volume"))
        val table = s"stream_ohlc_${counter.incrementAndGet()}"
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(table)
          .select(col("event_type"),
            date_format(col("bar"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("open"), col("high"), col("low"), col("close"), col("volume"))
          .orderBy(col("event_type"), col("hour"))
      },
      Some(Shared.OhlcOracle)),

    // The EVICTING twin of stream_ohlc_bars: update mode + 1 h
    // watermark over time-chunked staging (one chunk per micro-batch),
    // so finalized bars leave the state store while the stream still
    // runs — state is O(live bars within the watermark horizon), the
    // shape that survives an infinite stream, where complete mode's
    // state and re-emission grow with the time horizon. The memory
    // sink's update emissions fold to final bars by max volume (each
    // re-emission strictly grows a bar's volume), hash-matching the
    // same batch oracle as the complete-mode twin. StreamingSpec
    // proves rows were actually evicted mid-run (numRowsRemoved > 0,
    // final live state ≪ total bars).
    QueryDef("stream_ohlc_evicting",
      (spark, sf) => ohlcEvictingRun(spark, sf)._1,
      Some(Shared.OhlcOracle)),

    // Streaming multi-touch attribution — the live twin of
    // q_attribution's running first/last window: per-user state is two
    // strings (first/last touch so far) in the RocksDB store, each
    // purchase emits its attribution the moment it arrives. The sink's
    // completeness anchor is EXACT here: every purchase emits exactly
    // one row, so the poll waits for sink count == purchase count
    // before aggregating. Same oracle as the batch gate.
    QueryDef("stream_attribution",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val real = Tables.normalizeTs(spark.readStream.schema(schema)
            .parquet(stagedDir(spark, sf, "events")))
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value"))
        val prevProvider = spark.conf
          .getOption("spark.sql.streaming.stateStore.providerClass")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val attributed = graft.streaming.StreamingIngest.attributePurchases(
            real, "ts", "user_id", "event_id", "event_type", "value")
          val table = s"stream_attr_${counter.incrementAndGet()}"
          val q = attributed.toDF().writeStream.format("memory")
            .queryName(table)
            .outputMode("append").trigger(Trigger.ProcessingTime(100L)).start()
          try {
            val expected = Tables.load(spark, sf, "events")
              .filter(col("event_type") === "purchase").count()
            val deadline = System.currentTimeMillis + sinkDeadlineMs
            var n = -1L
            while (n != expected && System.currentTimeMillis < deadline) {
              Thread.sleep(150)
              n = spark.table(table).count()
            }
            if (n != expected) throw new IllegalStateException(
              s"stream_attribution sink incomplete after ${sinkDeadlineMs / 1000}s: " +
                s"$n of $expected purchases present")
          } finally q.stop()
          spark.table(table)
            .select(col("cents"),
              explode(map(
                lit("first"), col("firstT"),
                lit("last"), col("lastT")))
                .as(Seq("model", "touch_type")))
            .groupBy(col("model"), col("touch_type"))
            .agg(count(lit(1)).as("n_purchases"),
              sum(col("cents")).as("revenue_cents"))
            .orderBy(col("model"), col("touch_type"))
        } finally prevProvider match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      },
      Some(Shared.AttributionOracle)),

    // Streaming twin of eval_pr_curve: the classifier scores documents
    // as they stream in (stateless scan-speed pass), labels come from
    // the FROZEN batch rule-gate census via a stream-static broadcast
    // join (the stream_kanon pattern — ground truth is a fixed
    // reference, not a moving target), and the confusion counts
    // accumulate in a complete-mode aggregate whose state is bounded by
    // the fixed threshold grid (|thresholds| rows — watermark-free by
    // construction). The metric projections run on the final batch
    // table; thresholds, formulas and the oracle are shared with the
    // batch twin, so the two cannot diverge.
    QueryDef("stream_eval_prcurve",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val docs = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
        val scored = graft.ops.TextOps.hashedLinearScore(docs, "text", "doc_id")
          .select(col("doc_id"), col("score"))
        val labels = EvalQueries.labeled(spark, sf)
          .select(col("doc_id"), col("label"))
        val agg = scored.join(labels, Seq("doc_id"))
          .select(col("score"), col("label"),
            explode(array(EvalQueries.Thresholds.map(lit): _*)).as("t"))
          .groupBy(col("t"))
          .agg(
            sum(when(col("score") >= col("t"), col("label")).otherwise(0L)).as("tp"),
            sum(when(col("score") >= col("t"), lit(1L) - col("label"))
              .otherwise(0L)).as("fp"),
            sum(when(col("score") < col("t"), col("label")).otherwise(0L)).as("fn"),
            sum(when(col("score") < col("t"), lit(1L) - col("label"))
              .otherwise(0L)).as("tn"))
        val table = s"stream_prc_${counter.incrementAndGet()}"
        val q = agg.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        EvalQueries.prMetrics(spark.table(table))
      },
      Some(EvalQueries.PrCurveOracle)),

    // Streaming twin of q_exp_smoothing: the EWMA model updates
    // INCREMENTALLY across micro-batches through a transformWithState
    // StatefulProcessor — O(1) packed state per event type, each
    // time-ordered chunk extending the current hour or folding
    // completed hours, exactly the always-on monitoring shape. A
    // sentinel chunk carrying one far-future row PER TYPE (the staging
    // helper's sentinels cover only two types — here every type's
    // trailing hour must close) triggers the single final emission and
    // clears the state. transformWithState queries neither plan under
    // AvailableNow nor quiesce under awaitTermination (the
    // stream_sessionize lesson), so the drain is the short-period
    // trigger + poll-until-every-type-landed pattern. Bit-identical to
    // the batch fold (same integer recurrence, same packing), so the
    // twins share one oracle.
    QueryDef("stream_exp_smoothing",
      (spark, sf) => {
        val dir = ewmaChunkDir(spark, sf)
        val df = Tables.normalizeTs(spark.read.parquet(path(sf, "events")))
        val hi = df.agg(max(unix_micros(col("ts")))).head().getLong(0)
        val sentinelHourFrom = hi / 3600000000L + 1L
        val schema = spark.read.parquet(path(sf, "events")).schema
        val stream = Tables.normalizeTs(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(dir))
        val prevProvider = spark.conf
          .getOption("spark.sql.streaming.stateStore.providerClass")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val levels = graft.streaming.StreamingIngest
            .ewmaLevels(stream, "ts", "event_type", sentinelHourFrom)
          val table = s"stream_ewma_${counter.incrementAndGet()}"
          val nTypes = df.select(col("event_type")).distinct().count()
          val q = levels.toDF().writeStream.format("memory").queryName(table)
            .outputMode("append").trigger(Trigger.ProcessingTime(100L)).start()
          try {
            // completeness anchor: exactly one final readout per type
            // (the sentinel guarantees each type emits once)
            val deadline = System.currentTimeMillis + sinkDeadlineMs
            while (spark.table(table).count() < nTypes &&
              System.currentTimeMillis < deadline) Thread.sleep(150)
          } finally q.stop()
          spark.table(table)
            .select(col("eventType").as("event_type"),
              col("nHours").cast("int").as("n_hours"),
              col("levelMicro").as("level_micro"),
              col("nAnomalies").as("n_anomalies"))
            .orderBy(col("event_type"))
        } finally prevProvider match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      },
      Some(Shared.ExpSmoothingOracle)),

    // Streaming twin of q_holt_winters: level + TREND update
    // incrementally across micro-batches through the HoltProcessor —
    // the drift-tracking sibling of stream_exp_smoothing, same staged
    // time-chunk corpus (shared cache), same sentinel drain pattern
    // (transformWithState neither plans under AvailableNow nor
    // quiesces under awaitTermination — short-period trigger +
    // poll-until-every-type-landed). Bit-identical to the batch fold
    // (same integer recurrence, Java `/` = Spark `div` = DuckDB `//`
    // truncation), so the twins share one recursive-CTE oracle.
    QueryDef("stream_holt",
      (spark, sf) => {
        val dir = ewmaChunkDir(spark, sf)
        val df = Tables.normalizeTs(spark.read.parquet(path(sf, "events")))
        val hi = df.agg(max(unix_micros(col("ts")))).head().getLong(0)
        val sentinelHourFrom = hi / 3600000000L + 1L
        val schema = spark.read.parquet(path(sf, "events")).schema
        val stream = Tables.normalizeTs(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(dir))
        val prevProvider = spark.conf
          .getOption("spark.sql.streaming.stateStore.providerClass")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val levels = graft.streaming.StreamingIngest
            .holtLevels(stream, "ts", "event_type", sentinelHourFrom)
          val table = s"stream_holt_${counter.incrementAndGet()}"
          val nTypes = df.select(col("event_type")).distinct().count()
          val q = levels.toDF().writeStream.format("memory").queryName(table)
            .outputMode("append").trigger(Trigger.ProcessingTime(100L)).start()
          try {
            val deadline = System.currentTimeMillis + sinkDeadlineMs
            while (spark.table(table).count() < nTypes &&
              System.currentTimeMillis < deadline) Thread.sleep(150)
          } finally q.stop()
          spark.table(table)
            .select(col("eventType").as("event_type"),
              col("nHours").cast("int").as("n_hours"),
              col("levelMicro").as("level_micro"),
              col("trendMicro").as("trend_micro"),
              col("nAnomalies").as("n_anomalies"))
            .orderBy(col("event_type"))
        } finally prevProvider match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      },
      Some(Shared.HoltOracle)),

    // Streaming per-type Wald SPRT monitors — the ALWAYS-VALID shape
    // q_sprt's batch replay can only simulate: five independent
    // sequential tests (one per event type, H₁: P(value ≥ 80) = 0.20
    // vs H₀: 0.15) update O(1) keyed state ACROSS micro-batches
    // through a transformWithState StatefulProcessor, each decision
    // freezing at its boundary crossing MID-STREAM while totals keep
    // accumulating. Exactness carries over verbatim: the same
    // hardcoded integer micro-unit increments (287682 / −60625) make
    // the fold exact integer addition in stream order (time-ordered
    // chunks + within-batch sort), the same ±2944439 boundary is an
    // exact comparison, and the oracle is the per-type windowed SQL
    // replay of the identical fold. Sentinel drain, RocksDB provider
    // swap and the poll-until-every-type pattern are
    // stream_exp_smoothing's exactly. Slow-drifting types that never
    // cross report 'continue' (NULL decision stats) — the honest
    // sequential answer at small SFs.
    QueryDef("stream_sprt",
      (spark, sf) => {
        val dir = ewmaChunkDir(spark, sf)
        val df = Tables.normalizeTs(spark.read.parquet(path(sf, "events")))
        val hi = df.agg(max(unix_micros(col("ts")))).head().getLong(0)
        val sentinelFrom = (hi / 3600000000L + 1L) * 3600000000L
        val schema = spark.read.parquet(path(sf, "events")).schema
        val stream = Tables.normalizeTs(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(dir))
          .withColumn("inc",
            when(Shared.cents(col("value")) >= 8000L, 287682L)
              .otherwise(-60625L))
        val prevProvider = spark.conf
          .getOption("spark.sql.streaming.stateStore.providerClass")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val monitors = graft.streaming.StreamingIngest
            .sprtMonitors(stream, "ts", "event_id", "event_type", "inc",
              sentinelFrom, 2944439L)
          val table = s"stream_sprt_${counter.incrementAndGet()}"
          val nTypes = df.select(col("event_type")).distinct().count()
          val q = monitors.toDF().writeStream.format("memory").queryName(table)
            .outputMode("append").trigger(Trigger.ProcessingTime(100L)).start()
          try {
            val deadline = System.currentTimeMillis + sinkDeadlineMs
            while (spark.table(table).count() < nTypes &&
              System.currentTimeMillis < deadline) Thread.sleep(150)
          } finally q.stop()
          spark.table(table)
            .select(col("eventType").as("event_type"),
              col("nTotal").as("n_total"), col("llrFinal").as("llr_final"),
              col("nDecision").as("n_decision"),
              col("llrDecision").as("llr_decision"), col("decision"))
            .orderBy(col("event_type"))
        } finally prevProvider match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      },
      Some("""WITH ev AS (
             |  SELECT event_type, epoch_us(ts) AS us, event_id,
             |    CASE WHEN CAST(ROUND(value * 100) AS BIGINT) >= 8000
             |         THEN 287682 ELSE -60625 END AS inc
             |  FROM events),
             |cum AS (
             |  SELECT event_type,
             |    CAST(SUM(inc) OVER (PARTITION BY event_type
             |      ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
             |      AS BIGINT) AS llr,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY us, event_id) AS BIGINT) AS rn
             |  FROM ev),
             |tot AS (
             |  SELECT event_type, CAST(MAX(rn) AS BIGINT) AS n_total,
             |    CAST(MAX_BY(llr, rn) AS BIGINT) AS llr_final
             |  FROM cum GROUP BY 1),
             |dec AS (
             |  SELECT event_type, CAST(MIN(rn) AS BIGINT) AS n_decision,
             |    CAST(MIN_BY(llr, rn) AS BIGINT) AS llr_decision
             |  FROM cum WHERE llr >= 2944439 OR llr <= -2944439
             |  GROUP BY 1)
             |SELECT t.event_type, t.n_total, t.llr_final,
             |  d.n_decision, d.llr_decision,
             |  CASE WHEN d.llr_decision >= 2944439 THEN 'accept_h1'
             |    WHEN d.llr_decision <= -2944439 THEN 'accept_h0'
             |    ELSE 'continue' END AS decision
             |FROM tot t LEFT JOIN dec d ON t.event_type = d.event_type
             |ORDER BY t.event_type""".stripMargin)),

    // Concurrent streaming execution — a production engine runs MANY
    // streams per session; the bench otherwise times every gate
    // serially. Four existing streaming gates (complete-mode DP counts,
    // min_by/max_by OHLC state, the transformWithState/RocksDB funnel,
    // the stream-static PR-curve join) run CONCURRENTLY, each on its
    // own thread in its own FAIR scheduler pool and — the isolation
    // mechanism — in its own CHILD SESSION (`spark.newSession()`:
    // shared SparkContext and block manager, but isolated SQLConf and
    // temp catalog, so one gate's RocksDB-provider / state-partition
    // conf overrides and memory-sink view names cannot leak into a
    // sibling stream; checkpoints are per-query-unique already). Each
    // stream's output is diffed against its BATCH TWIN inside its own
    // session (symmetric exceptAll — the driver sees two scalars per
    // stream), so emission proves concurrent outputs equal the
    // serially-verified hashes, and the oracle is just the twin row
    // counts. Scale: concurrency adds no shuffle — it interleaves the
    // same per-stream work across the scheduler's pools.
    QueryDef("stream_concurrent",
      (spark, sf) => {
        import scala.concurrent.duration.Duration
        import scala.concurrent.{Await, ExecutionContext, Future}
        def fnOf(defs: Seq[QueryDef], n: String) = defs.find(_.name == n).get.fn
        val gates: Seq[(String, (SparkSession, String) => DataFrame,
            (SparkSession, String) => DataFrame)] = Seq(
          ("stream_dp_counts", fnOf(defs, "stream_dp_counts"),
            fnOf(CurationQueries.defs, "privacy_dp_counts")),
          ("stream_ohlc_bars", fnOf(defs, "stream_ohlc_bars"),
            fnOf(Relational.defs, "q_ohlc_bars")),
          ("stream_funnel", fnOf(defs, "stream_funnel"),
            fnOf(Relational.defs, "q_funnel")),
          ("stream_eval_prcurve", fnOf(defs, "stream_eval_prcurve"),
            fnOf(EvalQueries.defs, "eval_pr_curve")))
        val pool = java.util.concurrent.Executors.newFixedThreadPool(gates.size)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        val rows = try Await.result(Future.sequence(gates.map {
            case (name, streamFn, batchFn) => Future {
              val s = spark.newSession()
              s.sparkContext.setLocalProperty("spark.scheduler.pool", s"graft_$name")
              try {
                val out = streamFn(s, sf)
                val twin = batchFn(s, sf)
                val nRows = out.count()
                val nDiff = out.exceptAll(twin).unionAll(twin.exceptAll(out)).count()
                (name, nRows, nDiff)
              } finally s.sparkContext.setLocalProperty("spark.scheduler.pool", null)
            }
          }), Duration.Inf)
          finally pool.shutdown()
        import spark.implicits._
        rows.toDF("gate", "n_rows", "n_diff")
          .filter(col("n_diff") === 0)
          .select(col("gate"), col("n_rows"))
          .orderBy(col("gate"))
      },
      Some {
        def n(oracle: String) = s"(SELECT COUNT(*) FROM (\n$oracle\n) t)"
        s"""SELECT 'stream_dp_counts' AS gate, ${n(Shared.DpCountsOracle)} AS n_rows
           |UNION ALL SELECT 'stream_eval_prcurve', ${n(EvalQueries.PrCurveOracle)}
           |UNION ALL SELECT 'stream_funnel', ${n(Shared.FunnelOracle)}
           |UNION ALL SELECT 'stream_ohlc_bars', ${n(Shared.OhlcOracle)}
           |ORDER BY gate""".stripMargin
      }),

    // Incremental model monitoring: the multi-class confusion report
    // maintained from a STREAM of scored documents. The (true,
    // predicted) contingency cells are the streaming state — a
    // complete-mode aggregation over a ≤|classes|² key domain, so
    // state is constant-bounded at any corpus size (the metric's
    // sufficient statistics, not the corpus, live in the store) — and
    // the report fold itself is the IDENTICAL batch algebra as
    // eval_confusion ([[EvalQueries.confusionReport]]) applied to the
    // final cells frame. Same oracle as the batch gate: stream/batch
    // parity on the full classification report.
    QueryDef("stream_confusion",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "documents")).schema
        val docs = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "documents"))
        val cells = docs.select(col("lang"),
            graft.ops.TextOps.langIdHeuristic(col("text")).as("pred"))
          .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
        val table = s"stream_conf_${counter.incrementAndGet()}"
        val q = cells.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        // freeze the ≤|classes|² cells off the memory sink before the
        // report's self-joins — MemoryPlan leaves can't deduplicate
        // attributes across a self-join, and the frame is bounded
        // metadata (the metric's sufficient statistics), not corpus
        val st = spark.table(table)
        val frozen = spark.createDataFrame(
          java.util.Arrays.asList(st.collect(): _*), st.schema)
        EvalQueries.confusionReport(frozen)
      },
      Some(EvalQueries.ConfusionOracle)),

    // Live Benford monitor — dq_benford's first-digit fraud audit
    // maintained on a STREAM of arriving orders: the 9-key digit
    // census is the streaming state (complete-mode aggregation over a
    // constant domain — the metric's sufficient statistics, never the
    // corpus), and the final report applies the identical integer ppm
    // algebra against the same literal Benford expectations. Shares
    // the batch gate's oracle shape; the deviation a fraud monitor
    // would alert on is computed continuously instead of at rest.
    QueryDef("stream_benford",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "orders")).schema
        val orders = spark.readStream.schema(schema)
          .parquet(stagedDir(spark, sf, "orders"))
        val obs = orders
          .select(expr("CAST(substring(CAST(CAST(ROUND(o_totalprice*100)" +
            " AS BIGINT) AS STRING), 1, 1) AS INT)").as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
        val table = s"stream_benford_${counter.incrementAndGet()}"
        val q = obs.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val st = spark.table(table)
        // ≤9-row census off the memory sink — bounded metadata freeze,
        // the stream_confusion precedent
        val cells = spark.createDataFrame(
          java.util.Arrays.asList(st.collect(): _*), st.schema)
        val n = cells.agg(sum(col("obs")).as("n"))
        val expPpm = "CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091" +
          " WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181" +
          " WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153" +
          " ELSE 45757 END"
        spark.range(1, 10).select(col("id").cast("int").as("digit"))
          .join(cells, Seq("digit"), "left")
          .na.fill(0L, Seq("obs"))
          .crossJoin(broadcast(n))
          .select(col("digit"), col("obs"), expr(expPpm).as("exp_ppm"),
            expr("obs * 1000000 div n").as("obs_ppm"),
            (expr("obs * 1000000 div n") - expr(expPpm)).as("dev_ppm"))
          .orderBy(col("digit"))
      },
      Some("""WITH obs AS (
             |  SELECT CAST(substring(CAST(CAST(ROUND(o_totalprice*100)
             |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
             |    CAST(COUNT(*) AS BIGINT) AS obs
             |  FROM orders GROUP BY 1),
             |spine AS (SELECT unnest(generate_series(1, 9)) AS digit),
             |n AS (SELECT SUM(obs) AS n FROM obs),
             |f AS (
             |  SELECT CAST(s.digit AS INT) AS digit,
             |    COALESCE(o.obs, 0) AS obs,
             |    CASE s.digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
             |      WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
             |      WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
             |      ELSE 45757 END AS exp_ppm,
             |    COALESCE(o.obs, 0) * 1000000 // n.n AS obs_ppm
             |  FROM spine s LEFT JOIN obs o ON s.digit = o.digit CROSS JOIN n)
             |SELECT digit, obs, exp_ppm, CAST(obs_ppm AS BIGINT) AS obs_ppm,
             |  CAST(obs_ppm - exp_ppm AS BIGINT) AS dev_ppm
             |FROM f ORDER BY digit""".stripMargin)),

    // Streaming twin of q_srm_check — the assignment-health guardrail
    // running ON the live event stream, where an SRM is actually
    // caught (waiting for the batch read-out means shipping a broken
    // experiment for a day). A complete-mode per-user aggregate
    // maintains the distinct-user state as micro-batches land (state
    // bounded by distinct users — the stream_volume_anomaly state
    // discipline), and the dashboard read computes the two-cell chi^2
    // with the SAME exact integer decisions as the batch gate
    // (alpha=0.05 mismatch + the stringent alpha=0.001 SRM alarm).
    // Oracle: Shared.SrmOracle, shared verbatim with q_srm_check.
    QueryDef("stream_srm",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val perUser = Tables.normalizeTs(
            spark.readStream.schema(schema)
              .parquet(stagedDir(spark, sf, "events")))
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        val table = s"stream_srm_${counter.incrementAndGet()}"
        val q = perUser.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val wide = spark.table(table).agg(
          sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("user_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_b"))
        wide.select(col("n_a"), col("n_b"),
          when(col("n_a") + col("n_b") > 0, round(expr(
            """POW(CAST(n_a - n_b AS DOUBLE), 2) / (n_a + n_b)"""), 4))
            .as("chi2"),
          when(col("n_a") + col("n_b") > 0, expr(
            "CAST(625 * (n_a - n_b) * (n_a - n_b) >= 2401 * (n_a + n_b) AS INT)"))
            .as("mismatch_05"),
          when(col("n_a") + col("n_b") > 0, expr(
            "CAST(1000 * (n_a - n_b) * (n_a - n_b) >= 10828 * (n_a + n_b) AS INT)"))
            .as("srm_alarm"))
      },
      Some(Shared.SrmOracle)),

    // Streaming twin of q_page_hinkley — the Page-Hinkley alarm is a
    // NATIVELY streaming statistic (it exists to fire online, mid-
    // stream); here the daily state accumulates as a complete-mode
    // aggregate while micro-batches land (state bounded by the
    // calendar horizon) and the dashboard read replays the exact
    // integer sequential recurrence over the bounded day table — the
    // stream_volume_anomaly staging, the batch gate's oracle verbatim
    // (Shared.PageHinkleyOracle).
    QueryDef("stream_page_hinkley",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val daily = Tables.normalizeTs(
            spark.readStream.schema(schema)
              .parquet(stagedDir(spark, sf, "events")))
          .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("x"))
        val table = s"stream_ph_${counter.incrementAndGet()}"
        val q = daily.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val day = spark.table(table)
        val w = Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val idx = day
          .withColumn("i", row_number().over(Window.orderBy(col("d"))))
          .withColumn("si", sum(col("x")).over(w))
        val tot = day.agg(sum(col("x")).as("s"), count(lit(1)).as("nd"))
          .select(expr("(s div nd) div 20").as("delta"),
            expr("(s div nd) * 2").as("lambda"))
        val dev = idx.crossJoin(broadcast(tot))
          .withColumn("devt", col("x") - expr("si div i") - col("delta"))
        val m = dev.withColumn("mt", sum(col("devt")).over(w))
        m.withColumn("mmin", min(col("mt")).over(w))
          .select(col("d"), col("x"), col("mt"),
            (col("mt") - col("mmin")).as("gap"), col("lambda"),
            (col("mt") - col("mmin") > col("lambda")).as("alarm"))
          .orderBy(col("d"))
      },
      Some(Shared.PageHinkleyOracle)),

    // Streaming twin of q_obrien_fleming — the interim-analysis
    // read-out AGAINST LIVE STATE: per-user (first event, first
    // purchase) state accumulates as a complete-mode aggregate (state
    // bounded by distinct users — the stream_srm discipline), and the
    // dashboard read derives the four calendar looks and their EXACT
    // integer boundary decisions from that state exactly as the batch
    // gate does (Shared.ObfOracle verbatim). This is how a group-
    // sequential design actually runs: the state is always current,
    // each look is a read.
    QueryDef("stream_obrien_fleming",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val perUser = Tables.normalizeTs(
            spark.readStream.schema(schema)
              .parquet(stagedDir(spark, sf, "events")))
          .select(col("user_id"), expr("unix_micros(ts)").as("us"),
            col("event_type"))
          .groupBy(col("user_id"))
          .agg(min(col("us")).as("first_us"),
            min(when(col("event_type") === "purchase", col("us")))
              .as("conv_us"),
            max(col("us")).as("last_us"))
        val table = s"stream_obf_${counter.incrementAndGet()}"
        val q = perUser.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val st = spark.table(table)
        val bounds = st.agg(min(col("first_us")).as("mn"),
          max(col("last_us")).as("mx"))
        val per = st.select((col("user_id") % 2 === 0).as("grp_a"),
          col("first_us"), col("conv_us"))
        val looks = per.crossJoin(broadcast(bounds))
          .select(col("grp_a"), col("first_us"), col("conv_us"),
            explode(expr("sequence(1, 4)")).as("look"),
            col("mn"), col("mx"))
          .withColumn("cut", expr("mn + (mx - mn) * look div 4"))
        val g = looks.groupBy(col("look")).agg(
          sum(when(col("grp_a") && col("first_us") <= col("cut"), 1L)
            .otherwise(0L)).as("n_a"),
          sum(when(col("grp_a") && col("conv_us") <= col("cut"), 1L)
            .otherwise(0L)).as("x_a"),
          sum(when(!col("grp_a") && col("first_us") <= col("cut"), 1L)
            .otherwise(0L)).as("n_b"),
          sum(when(!col("grp_a") && col("conv_us") <= col("cut"), 1L)
            .otherwise(0L)).as("x_b"))
          .withColumn("bound_e6", expr(
            s"element_at(array(${Shared.ObfBoundsE6.mkString(", ")}), look)"))
        val ok = col("n_a") > 0 && col("n_b") > 0 &&
          col("x_a") + col("x_b") > 0 &&
          col("x_a") + col("x_b") < col("n_a") + col("n_b")
        val scored = g.select(col("look"), col("n_a"), col("x_a"),
          col("n_b"), col("x_b"), col("bound_e6"),
          when(ok, round(expr(
            """POW(CAST(x_a * n_b - x_b * n_a AS DOUBLE), 2) * (n_a + n_b)
              |  / (CAST(n_a AS DOUBLE) * n_b * (x_a + x_b)
              |     * (n_a + n_b - x_a - x_b))""".stripMargin), 4)).as("z2"),
          when(ok, expr(
            """CASE WHEN 1000000 * POW(CAST(x_a * n_b - x_b * n_a AS DOUBLE), 2)
              |       * (n_a + n_b) > 1e36
              |    OR CAST(bound_e6 AS DOUBLE) * n_a * n_b * (x_a + x_b)
              |       * (n_a + n_b - x_a - x_b) > 1e36
              |  THEN CAST(raise_error(CONCAT('stream_obrien_fleming: counts ',
              |    'exceed the DECIMAL(38) exact-decision domain - decide on ',
              |    'the z2 double')) AS INT)
              |  ELSE CAST(
              |    CAST(x_a * n_b - x_b * n_a AS DECIMAL(38,0))
              |      * (x_a * n_b - x_b * n_a) * (n_a + n_b) * 1000000
              |    >= CAST(bound_e6 AS DECIMAL(38,0)) * n_a * n_b
              |      * (x_a + x_b) * (n_a + n_b - x_a - x_b)
              |    AS INT) END""".stripMargin)).as("reject"))
        scored.withColumn("stopped",
          max(coalesce(col("reject"), lit(0))).over(
            Window.orderBy(col("look"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy(col("look"))
      },
      Some(Shared.ObfOracle)),

    // Live growth-accounting dashboard — q_growth_accounting's daily
    // new/retained/resurrected/churned ledger maintained over the
    // stream: distinct (user, day) activity accumulates as a
    // complete-mode aggregate (state bounded by users × the calendar
    // horizon — the natural DAU-state shape) and the dashboard read
    // applies the batch gate's exact ledger read-out
    // (Relational.growthLedger) to the sink. Batch oracle verbatim
    // (Shared.GrowthOracle) — the stream_srm pattern.
    QueryDef("stream_growth",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val act = Tables.normalizeTs(
            spark.readStream.schema(schema)
              .parquet(stagedDir(spark, sf, "events")))
          .select(col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n"))
        val table = s"stream_growth_${counter.incrementAndGet()}"
        val q = act.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        Relational.growthLedger(
          spark.table(table).select(col("user_id"), col("day")))
      },
      Some(Shared.GrowthOracle)),

    // Live log-rank survival monitor — q_logrank's two-arm
    // time-to-conversion comparison maintained over the stream: the
    // per-user survival frame (first event, last event, first
    // purchase) accumulates as a complete-mode aggregate while
    // micro-batches land (state = one row per user, the natural
    // survival-state shape), and the dashboard read applies the batch
    // gate's EXACT read-out plan tail (InferenceQueries.logrankReadout
    // — the shared risk-set prefix pass and the DECIMAL(38) χ²₁
    // decision) to the sink. Batch oracle verbatim
    // (Shared.LogrankOracle) — the stream_srm/stream_sprt pattern.
    QueryDef("stream_logrank",
      (spark, sf) => {
        val schema = spark.read.parquet(path(sf, "events")).schema
        val per = Tables.normalizeTs(
            spark.readStream.schema(schema)
              .parquet(stagedDir(spark, sf, "events")))
          .groupBy(col("user_id"))
          .agg(min(expr("unix_micros(ts)")).as("f"),
            max(expr("unix_micros(ts)")).as("l"),
            min(when(col("event_type") === "purchase",
              expr("unix_micros(ts)"))).as("conv"))
        val table = s"stream_logrank_${counter.incrementAndGet()}"
        val q = per.writeStream.format("memory").queryName(table)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        InferenceQueries.logrankReadout(spark.table(table))
      },
      Some(Shared.LogrankOracle)),

    // Streaming SCD2 history maintenance — q_scd2_history's slowly-
    // changing-dimension table kept current from a CDC-shaped stream
    // instead of recomputed from the full order history. Orders arrive
    // in four strictly date-ordered chunks (dates never split across
    // chunks — the arrival order a change-data capture feed guarantees
    // per key); each micro-batch computes only ITS change rows (lag
    // within the batch), fetches just the OPEN versions of the
    // arriving customers (valid_to IS NULL semi-joined on the batch's
    // keys — never the closed history), drops the batch's first
    // "change" per customer when it merely continues the open
    // version's priority, then appends an O(batch) merge-on-read
    // delta: the closed re-emission of each superseded open version
    // (same (custkey, version) key — latest-wins reconcile) plus the
    // new versions numbered from the open version's counter. The
    // final morSnapshot must hash-match the batch twin's full-history
    // window oracle VERBATIM (Shared.Scd2Oracle) — incremental
    // maintenance proven equivalent to recomputation, the same
    // standard the incremental curation flagship meets. Chunk staging
    // splits the calendar linearly from one min/max agg (any monotone
    // non-date-splitting cut yields the same final table) — gate
    // scaffolding, not the operator. AnalyticsSpec additionally pins
    // the engine-internal equivalence: this gate's output must equal
    // q_scd2_history's batch recomputation row-for-row.
    QueryDef("stream_scd2",
      (spark, sf) => {
        import graft.spec.{IdField, LongId, MigrationSpec}
        import org.apache.spark.sql.types._
        val orders = load(spark, sf, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_orderpriority"))
        val dir = java.nio.file.Files.createTempDirectory("graft_scd2_chunks")
        // Chunk cut points: any deterministic MONOTONE date→chunk map
        // that never splits a date across chunks yields the same final
        // SCD2 table (the oracle recomputes from the full history), so
        // the cheap one wins — a single min/max agg and a linear
        // calendar split, instead of collecting every distinct date.
        // String prefix parse is robust to the parquet TIMESTAMP vs
        // TIMESTAMP_NTZ read difference across driver corpora.
        val nCh = 4
        val b0 = orders.agg(min(col("o_orderdate")).cast("string").as("mn"),
          max(col("o_orderdate")).cast("string").as("mx")).head()
        val d0 = java.time.LocalDate.parse(b0.getString(0).take(10))
        val span = java.time.LocalDate.parse(b0.getString(1).take(10)).toEpochDay -
          d0.toEpochDay
        val mt0 = System.currentTimeMillis() - nCh * 10000L
        // ONE partitioned write stages all chunks (vs nCh separate
        // filter+coalesce passes — the r17 decade leg priced this gate's
        // scaffolding at ~half its wall time); repartition on the chunk
        // label gives one file per chunk directory
        val chunkOf = least(lit(nCh - 1),
          floor(datediff(col("o_orderdate"), lit(d0.toString)) * nCh / (span + 1))
            .cast("int"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_scd2_c")
        orders.withColumn("chunk", chunkOf).repartition(col("chunk"))
          .write.partitionBy("chunk").mode("overwrite").parquet(tmp.toString)
        for (i <- 0 until nCh) {
          // an empty chunk writes no partition directory (a sparse or
          // single-date corpus) — it simply contributes no file
          Option(new java.io.File(tmp.toString, s"chunk=$i").listFiles())
            .getOrElse(Array.empty)
            .find(f => f.getName.startsWith("part-") &&
              f.getName.endsWith(".parquet"))
            .foreach { p =>
              val dst = dir.resolve(f"chunk_$i%03d.parquet")
              java.nio.file.Files.move(p.toPath, dst)
              dst.toFile.setLastModified(mt0 + i * 10000L)
            }
        }
        val base = java.nio.file.Files
          .createTempDirectory("graft_stream_scd2").toString
        val theSpec = MigrationSpec("stream_scd2", source = "",
          sourceDriver = "stream",
          destination = s"$base/dest", destinationDriver = "parquet",
          sourceIds = Seq(IdField("o_custkey", LongId),
            IdField("version", LongId)),
          destinationIds = Seq(IdField("o_custkey", LongId),
            IdField("version", LongId)))
        val dest = new graft.drivers.ParquetDestinationDriver
        dest.write(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("o_custkey", LongType),
            StructField("priority", StringType),
            StructField("valid_from", TimestampType),
            StructField("valid_to", TimestampType),
            StructField("version", IntegerType)))), theSpec)
        val schema = spark.read.parquet(dir.toString).schema
        val raw = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(dir.toString)
        val q = raw.writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            // ONE window pass (r17 verdict task 4 — the old shape paid
            // two window chains + two joins + a groupBy per batch): the
            // open version of each arriving customer joins the batch as
            // a SYNTHETIC FIRST ROW (okey −1; its valid_from predates
            // every batch date because chunks never split or reorder
            // dates), and the standard SCD2 composition over the unioned
            // sequence produces everything at once — lag-compression
            // drops batch rows continuing the open priority, lead gives
            // the re-emitted open row its closing valid_to (or leaves it
            // open — an idempotent same-key re-emission), and versions
            // extend the open counter via a per-customer max window.
            val opens = dest.morSnapshot(spark, theSpec).get
              .filter(col("valid_to").isNull)
              .join(b.select(col("o_custkey")).distinct(),
                Seq("o_custkey"), "left_semi")
              .select(col("o_custkey"), col("priority"),
                col("valid_from"), lit(-1L).as("o_orderkey"),
                col("version").as("open_ver"))
            val rows = b.select(col("o_custkey"),
                col("o_orderpriority").as("priority"),
                col("o_orderdate").cast("timestamp").as("valid_from"),
                col("o_orderkey"), lit(null).cast("int").as("open_ver"))
              .unionByName(opens)
            val wb = Window.partitionBy(col("o_custkey"))
              .orderBy(col("valid_from"), col("o_orderkey"))
            val wk = Window.partitionBy(col("o_custkey"))
            val delta = rows
              .withColumn("prev", lag(col("priority"), 1).over(wb))
              .filter(col("open_ver").isNotNull ||
                col("prev").isNull || col("prev") =!= col("priority"))
              .withColumn("rn", row_number().over(wb))
              .withColumn("base", max(col("open_ver")).over(wk))
              .withColumn("version",
                coalesce(col("open_ver"),
                  coalesce(col("base"), lit(0)) + col("rn") -
                    when(col("base").isNotNull, 1).otherwise(0)).cast("int"))
              .withColumn("valid_to", lead(col("valid_from"), 1).over(wb))
              // an open row whose valid_to STAYS null after this batch is
              // bit-identical to the row already in the destination (same
              // key/priority/valid_from/version) — re-emitting it appends
              // a redundant delta segment per no-op batch; drop it (the
              // re-emission with a non-null valid_to is the one that
              // closes the open row and must stay)
              .filter(col("open_ver").isNull || col("valid_to").isNotNull)
              .select(col("o_custkey"), col("priority"),
                col("valid_from"), col("valid_to"), col("version"))
              // persisted: the delta plan otherwise executes three times
              // per batch (emptiness probe, appendDelta's duplicate-key
              // probe, the segment write) — and it hangs off morSnapshot,
              // whose reconcile re-runs per execution
              .persist()
            try { if (delta.count() > 0) dest.appendDelta(delta, theSpec): Unit }
            finally { delta.unpersist(); () }
          }
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        dest.morSnapshot(spark, theSpec).get
          .orderBy(col("o_custkey"), col("version"))
      },
      Some(Shared.Scd2Oracle)),

    // Kill/restart safety for the incremental ORPHAN RECONCILE (r18
    // verdict task 5 — replay-idempotence was pinned only in
    // ExecutorSpec, same-JVM, no real restart). Three CDC windows
    // (orders sliced by o_orderkey % 3, coalesced per customer) stream
    // through executeDelta one file per trigger; the first ingestion
    // run sees ONLY window 0 before the process "dies" (windows 1/2
    // arrive while it is down — the deterministic kill point, replacing
    // an earlier stop()-vs-drain race that could leave the resume path
    // unexercised on a fast run), and a RESTARTED run — fresh
    // executor/mapper objects over the same durable paths, resuming the
    // checkpoint — drains the backlog (mappings are recorded before
    // data appends, duplicate segments latest-wins-fold away); a batch
    // counter proves the restart actually processed the backlog or the
    // gate emits empty. Then reconcileDeltaOrphans runs under PruneOrphans with a
    // last-window retention horizon: its tombstone segment LANDS but
    // the process "dies" before acking (the result is discarded), and a
    // second restarted executor replays the reconcile from published
    // state alone — the replay must find nothing left to prune and
    // serve the identical survivor view, which DuckDB replays exactly.
    // A reconcile that double-prunes, resurrects tombstoned keys, or
    // loses a batch across the kill flips the hash.
    QueryDef("stream_orphan_reconcile",
      (spark, sf) => {
        import graft.drivers.{ParquetDestinationDriver, SourceDriver}
        import graft.exec._
        import graft.mapper.MappingStore
        import graft.spec.{IdField, LongId, MigrationSpec}
        // stage the three windows as one file per trigger, ascending mtimes
        val dir = java.nio.file.Files.createTempDirectory("graft_orc_chunks")
        val mt0 = System.currentTimeMillis() - 100000L
        val orders = load(spark, sf, "orders")
        def stage(i: Int): Unit = {
          val w = orders.filter(col("o_orderkey") % 3 === i)
            .groupBy(col("o_custkey"))
            .agg(count(lit(1)).as("cnt"))
            .select(col("o_custkey"), lit(i).as("last_batch"), col("cnt"))
          Tables.writeChunkFile(w, dir, f"batch_$i%03d.parquet", mt0 + i * 10000L)
        }
        // leg 1 sees ONLY window 0 — windows 1/2 land between the legs,
        // so the restart DETERMINISTICALLY has work left. The previous
        // shape staged all three and raced stop() against the drain: a
        // fast leg 1 could finish everything, leaving the checkpoint-
        // resume/replay path this gate exists to pin silently
        // unexercised while the hash still matched (r19 advice).
        stage(0)
        val base = java.nio.file.Files.createTempDirectory("graft_orc").toString
        val theSpec = MigrationSpec("orc_delta", source = "", sourceDriver = "stream",
          destination = s"$base/dest", destinationDriver = "parquet",
          sourceIds = Seq(IdField("o_custkey", LongId)),
          destinationIds = Seq(IdField("id", LongId)))
        // a "restarted process" = fresh executor + mapper over the same
        // durable paths — no in-JVM state survives between legs
        def freshExec(): MigrationExecutor = {
          val mapper = new MappingStore(s"$base/map")
          new MigrationExecutor(mapper, new ReferenceStore(mapper), PruneOrphans)
        }
        val mig = new Migration {
          def spec: MigrationSpec = theSpec
          def transform(src: DataFrame, ctx: TransformContext): DataFrame =
            src.select(col("o_custkey"), col("o_custkey").as("id"),
              col("last_batch"), col("cnt"))
        }
        val schema = spark.read.parquet(dir.toString).schema
        def start(exec: MigrationExecutor,
                  batches: java.util.concurrent.atomic.AtomicInteger) =
          spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(dir.toString)
            .writeStream
            .foreachBatch { (b: DataFrame, _: Long) =>
              exec.executeDelta(spark, mig, new SourceDriver {
                def read(s: SparkSession, sp: MigrationSpec): DataFrame = b
              }, new ParquetDestinationDriver): Unit
              exec.release() // per-batch pins: the delta is written
              batches.incrementAndGet(): Unit
            }
            .option("checkpointLocation", s"$base/ckpt")
            .trigger(Trigger.AvailableNow()).start()
        // leg 1: the "killed" run — drains window 0, then the process
        // "dies" (AvailableNow terminates; windows 1/2 don't exist yet)
        val leg1Batches = new java.util.concurrent.atomic.AtomicInteger
        val q1 = start(freshExec(), leg1Batches)
        try q1.awaitTermination() finally q1.stop()
        stage(1); stage(2)
        // leg 2: restart from the checkpoint and drain the backlog —
        // the batch counter makes the resume coverage VISIBLE: if the
        // restart processed nothing, the gate emits empty and the
        // driver's rows/hash check flips (instead of silently passing
        // on leg 1's work alone)
        val leg2Batches = new java.util.concurrent.atomic.AtomicInteger
        val q2 = start(freshExec(), leg2Batches)
        try q2.awaitTermination() finally q2.stop()
        val resumedBatches = leg2Batches.get()
        // reconcile #1: tombstones land, then the process "dies" before
        // the ack — the result is discarded, nothing in-JVM survives
        val horizon = orders.filter(col("o_orderkey") % 3 === 2)
          .select(col("o_custkey")).distinct()
        val dest = new ParquetDestinationDriver
        val execA = freshExec()
        execA.reconcileDeltaOrphans(spark, mig, horizon, dest): Unit
        execA.release()
        // reconcile #2 (the restart's replay): recomputed from published
        // state alone — must be a no-op prune serving the same view
        val execB = freshExec()
        val res = execB.reconcileDeltaOrphans(spark, mig, horizon, dest)
        val replayPrunes = res.orphanCount
        execB.release()
        res.finalSnapshot
          .filter(lit(replayPrunes) === 0L) // replay found leftovers ⇒ empty ⇒ hash fails
          .filter(lit(resumedBatches) >= 2) // restart processed nothing ⇒ resume path unexercised ⇒ hash fails
          .select(col("id"), col("last_batch"), col("cnt"))
          .orderBy(col("id"))
      },
      Some("""WITH per AS (
             |  SELECT o_custkey AS id, CAST(o_orderkey % 3 AS INT) AS b,
             |    CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM orders GROUP BY 1, 2),
             |last AS (SELECT id, MAX(b) AS b FROM per GROUP BY 1),
             |recent AS (SELECT DISTINCT id FROM per WHERE b = 2)
             |SELECT p.id, p.b AS last_batch, p.cnt
             |FROM per p JOIN last USING (id, b) JOIN recent USING (id)
             |ORDER BY p.id""".stripMargin)),
  )
}
