package graft
import graft.queries.Layouts
import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR") // concurrent streams share fairly (stream_concurrent)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Generic warmup: JIT-compile the codegen/shuffle machinery so the
    // first timed query doesn't absorb JVM cold-start (no query-result
    // caching happens here — it touches none of the benchmark tables).
    val warmT0 = System.nanoTime()
    spark.range(2000000L).selectExpr("sum(id * 2)", "count(distinct id % 97)").collect()
    spark.range(100000L).toDF("a").join(spark.range(1000L).toDF("b"), // warm join paths
      org.apache.spark.sql.functions.col("a") === org.apache.spark.sql.functions.col("b"))
      .count()
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    // Host-load calibration probe (r16 verdict: the bench series drifted
    // 1.65× on host noise with nothing to normalize by). A fixed
    // CPU+shuffle workload, measured POST-JIT as the min of 3
    // back-to-back runs, emitted on both JSON lines: legs divide
    // per-query seconds by the ratio of their calibration constants to
    // separate "the host was slow" from "the code got slower". The
    // warmup block's own (JIT-dominated) time is emitted too — it
    // tracks cold-start conditions, not steady-state load.
    val calibrationS = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(8000000L)
        .selectExpr("id % 10007 AS k", "id AS v")
        .groupBy("k").sum("v").selectExpr("sum(`sum(v)`)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val flaky = scala.collection.mutable.ListBuffer.empty[String]
    // comma-separated substring filter (same contract as Verify) — for
    // ad-hoc timing of a query subset; the driver runs unfiltered
    val filter = sys.env.get("GRAFT_QUERY_FILTER")
    // complement filter: GRAFT_BENCH_EXCLUDE drops matching entries —
    // the demotion mechanism for gates that are certificates priced at
    // ORACLE scale (dedup_semantic, corpus_curation_semantic: exact
    // all-pairs tiers, 23×/43× at the sf1 decade). Driver SFs run
    // everything unfiltered; decade+ legs exclude the exact tiers and
    // the *_sampled certificates carry the scale story (BENCH_NOTES).
    val exclude = sys.env.get("GRAFT_BENCH_EXCLUDE")
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      filter.forall(_.split(',').exists(f => f.nonEmpty && name.contains(f))) &&
        !exclude.exists(_.split(',').exists(f => f.nonEmpty && name.contains(f))) }
    // GRAFT_BENCH_ORDER=reverse runs the suite Z→A: a second pass in
    // reversed order separates "this tier is slow" from "whatever runs
    // at the END of a 170-query suite is slow" (accumulated JVM/storage
    // state, time-localized host contention) — the r9 text-tier
    // inflation was undiagnosable from one alphabetical run.
    val selected =
      if (sys.env.get("GRAFT_BENCH_ORDER").contains("reverse")) ordered.reverse
      else ordered
    // per-query diagnostics: wall-clock start offset (seconds since
    // bench epoch — makes time-localized noise self-diagnosing) and the
    // persistent-RDD count after the query (makes storage accumulation
    // across the run visible in the artifact itself)
    val benchEpoch = System.nanoTime()
    val starts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val persisted = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // Shared per-corpus layouts get their own timed entries, charged to
    // neither the first consumer (arbitrary) nor hidden in warmup
    // (flattering): total stays honest, per-query times comparable. The
    // registry derives which layouts the selection reads and their
    // dependency order; once a layout fails, its dependents are skipped
    // and marked failed (a cache-less rebuild's wall is no measurement).
    val layouts = Layouts.needed(selected.map(_._1))
    val sums = Layouts.sums
      .filter(_._2.exists(m => layouts.exists(_.name == m)))
    val layoutEntries = {
      val t0all = System.nanoTime()
      sums.foreach { case (sum, _) => starts(sum) = (t0all - benchEpoch) / 1e9 }
      val dead = scala.collection.mutable.Set.empty[String]
      val timed = layouts.map { l =>
        val t0 = System.nanoTime()
        starts(l.entry) = (t0 - benchEpoch) / 1e9
        val ok = !dead(l.name) && {
          try { Layouts.warm(spark, sfDir, l.name); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] ${l.entry} FAILED: ${e.getMessage}")
            false
          }
        }
        if (!ok) {
          failed += l.entry
          dead ++= Layouts.dependents(l.name)
          sums.foreach { case (sum, ms) =>
            if (ms.contains(l.name) && !failed.contains(sum)) failed += sum }
        }
        persisted(l.entry) = spark.sparkContext.getPersistentRDDs.size
        l -> (System.nanoTime() - t0) / 1e9
      }
      timed.map { case (l, t) => l.entry -> t } ++ sums.map { case (sum, ms) =>
        persisted(sum) = spark.sparkContext.getPersistentRDDs.size
        sum -> timed.collect { case (l, t) if ms.contains(l.name) => t }.sum
      }
    }
    // Best-of-N (default 2): this shared VM's run-to-run noise reaches
    // 1.7× (BENCH_NOTES), so a single sample regularly reads as a
    // phantom regression. The min of two back-to-back runs is the
    // honest steady-state figure; a genuinely slower plan is slower in
    // BOTH runs. One-time layout warming stays single-run above (its
    // second run would just time the cache).
    val runs = sys.env.getOrElse("GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val results = layoutEntries ++ selected.map { case (name, fn) =>
      starts(name) = (System.nanoTime() - benchEpoch) / 1e9
      val attempts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        // Evaluate every output column: under a bare count() Catalyst
        // prunes the projection to nothing (a regex-redaction query
        // times as a parquet row-count). foreach over the executed
        // plan's rows keeps the full projection in the measured work
        // without collecting to the driver.
        val ok =
          try { fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ()); true }
          catch { case e: Throwable =>
            if (!failed.contains(name)) failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      // a fail-fast attempt's elapsed time is not a measurement — the
      // min is over SUCCESSFUL runs only (all-failed keeps the raw min
      // so the entry stays visible next to its failed[] marker). A
      // query that failed one attempt but succeeded another is NOT
      // failed — its timing is real — but the flakiness must not
      // disappear either: it moves to the flaky[] list instead of
      // sitting ambiguously in failed[] next to a normal-looking time.
      val good = attempts.collect { case (t, true) => t }
      if (good.nonEmpty && failed.contains(name)) { failed -= name; flaky += name }
      persisted(name) = spark.sparkContext.getPersistentRDDs.size
      name -> (if (good.nonEmpty) good.min else attempts.map(_._1).min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fj = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fl = flaky.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Double.toString is locale-independent; f"%.1f" is NOT (a
    // comma-decimal default locale emits "3,1" and the whole line stops
    // being JSON — exactly what nulled the driver's BENCH_r10 parse).
    val st = starts.map { case (k, v) => "\"" + k + "\":" + (math.round(v * 10) / 10.0) }
      .mkString("{", ",", "}")
    val pr = persisted.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // sum entries are DERIVED (kept for series continuity) — excluded
    // from the total so the one-time layout cost counts exactly once
    val derived = sums.map(_._1).toSet
    val total = results.collect { case (k, v) if !derived(k) => v }.sum
    val order =
      if (sys.env.get("GRAFT_BENCH_ORDER").contains("reverse")) "reverse" else "alpha"
    // The driver's capture retains only a ~2.3 KB stdout TAIL — twelve
    // rounds of BENCH_r*.json came back "parsed": null because the one
    // emitted line grew past the window and the tail landed mid-map. So:
    // every O(#queries) diagnostic map goes on an EARLIER line (still one
    // JSON object, greppable from the full log), and the FINAL line is a
    // compact summary — total, failure markers, and only the top-15
    // slowest per-query times — sized to fit any tail window.
    val calib = s""""calibration_s":${math.round(calibrationS * 1000) / 1000.0},"warmup_s":${math.round(warmupS * 1000) / 1000.0}"""
    println(s"""{"diag":"bench_full","queries":$qs,"starts":$st,"persisted_rdds":$pr,"failed":$fj,"flaky":$fl,$calib,"order":"$order","sf":"$sfDir"}""")
    val slowest = results.sortBy(-_._2).take(15)
      .map { case (k, v) => "\"" + k + "\":" + (math.round(v * 1000) / 1000.0) }
      .mkString("{", ",", "}")
    // failure lists are capped on the final line (full lists live on the
    // diag line) so a catastrophic round can't push the summary out of
    // the tail window either
    def capped(l: Seq[String]): String =
      (l.take(20).map("\"" + _ + "\"") ++
        (if (l.size > 20) Seq("\"...+" + (l.size - 20) + "\"") else Nil))
        .mkString("[", ",", "]")
    // n_queries counts every TIMED row; the layout entries are not
    // registry queries, so the registry count and the extra rows are named
    // explicitly — series comparisons stay exact (r17 verdict task 8:
    // BENCH_r17's 406 vs the 405-query registry was this one row).
    val extras = layoutEntries.map(_._1)
    val ex = extras.map("\"" + _ + "\"").mkString("[", ",", "]")
    // a timed exception is not a measurement — surface failures explicitly
    println(s"""{"metric":"total","value":${math.round(total * 1000) / 1000.0},"unit":"sec","n_queries":${results.size},"n_registry":${results.size - extras.size},"extra_entries":$ex,"queries":$slowest,"failed":${capped(failed.toSeq)},"flaky":${capped(flaky.toSeq)},$calib,"order":"$order","sf":"$sfDir"}""")
    spark.stop()
  }
}
