package graft.queries

import graft.SparkSpec

/** Storage-hygiene audit (the r9 bench-tail lesson): per-query persists
  * must not outlive their query. Each representative query — the ones
  * whose operators persist internally (executor runs, fixpoints,
  * similarity codebooks, incremental dedup) — is run once to warm any
  * lazily-created shared layouts (frames owned by `Layouts`, memoized
  * scenarios: those are intentional, counted owners), then run again;
  * at steady state a query may not grow `getPersistentRDDs` at all. A
  * regression here is exactly the shape that inflated the r9 bench:
  * one pinned entry per run, times 173 queries, evicting execution
  * memory at the tail of the suite.
  */
class PersistHygieneSpec extends SparkSpec {

  // one per query group with internal persists; streaming excluded
  // (fixed micro-batch startup dominates; its state lives in RocksDB,
  // not block-manager storage)
  private val representatives = Seq(
    "etl_stub_resolve",      // three executor runs + reference memo
    "etl_flush_chunks",      // executeChunked inner executor
    "etl_dag_pipeline",      // executeAll + two reference memos
    "etl_reference_lookup",  // reference store memo
    "etl_upsert_merge",      // memoized scenario (shared — warmed pass 1)
    "q_transitive_closure",  // fixpoint with lineage truncation
    "q_pagerank",            // fixpoint with lineage truncation
    "dedup_incremental_fuzzy", // bloom-probed join over shared shingles
    "dedup_best_of_cluster", // shared bounded-edge layout consumer
    "dedup_clusters_certificate", // trunc/cd op-released; truth slot-owned
                             // (swap-on-emit — warmed pass 1)
    "sim_ann_ivfpq",         // trained codebooks (op-internal persists)
    "text_bpe_train",        // iterative merge training
    "dedup_clusters_distributed", // label-prop edge/label persists, op-released
    "q_cheapest_path",       // semiring fixpoint memo (edge persist op-released)
    "eval_auc",              // shared labeled-scores cache (counted owner)
    "sim_ann_index_append",  // ivfIndex's training persist (op-released)
                             // + fresh index build/append per run
    "text_textrank_keywords" // pageRankInt fixpoint owned by Layouts
                             // (counted owner — warmed pass 1)
  )

  test("certificate truth slot: steady state pins at most one frame per " +
      "variant; a non-emitting certificate leaves nothing pinned") {
    // isolate on a test-only variant key so the production "|raw" /
    // "|curated" slots (owned by the registry gates) are untouched
    val key = s"$Sf|hygiene_test"
    val mkInput = Tables.load(spark, Sf, "embeddings")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // emitting certificate (driver-SF Wilson is well above 0.7): pins
    // exactly its truth frame in the slot
    DedupQueries.sampledSemanticCertificate(key, mkInput, persistInput = false)
      .queryExecution.toRdd.foreach(_ => ())
    assert(DedupQueries.certTruthSlot.contains(key))
    val afterFirst = spark.sparkContext.getPersistentRDDs.keySet
    // second emitting run: swap-on-emit — the replaced truth is
    // released, so storage does NOT grow across repeated certificates
    DedupQueries.sampledSemanticCertificate(key, mkInput, persistInput = false)
      .queryExecution.toRdd.foreach(_ => ())
    val afterSecond = spark.sparkContext.getPersistentRDDs.keySet
    assert(afterSecond.size <= afterFirst.size,
      s"certificate re-run grew storage ${afterFirst.size} -> " +
        s"${afterSecond.size}: the replaced truth frame was not released")
    // seeded FAILING certificate (unattainable Wilson bound): must
    // release its own truth AND the stale slot entry — nothing pinned
    val out = DedupQueries.sampledSemanticCertificate(
      key, mkInput, persistInput = false, minWilson = 1.01)
    assert(out.count() == 0L, "a failing certificate must emit empty")
    assert(!DedupQueries.certTruthSlot.contains(key),
      "a failing certificate left a frame in the slot")
    val afterFail = spark.sparkContext.getPersistentRDDs.keySet
    val leaked = afterFail -- before
    assert(leaked.isEmpty,
      s"failing certificate leaked persistent RDD(s) ${leaked.mkString(",")}")
  }

  test("steady state: a second run of a query adds no persistent RDDs") {
    for (name <- representatives) {
      val fn = graft.SparkEntry.queries(name)
      // pass 1: warm shared layouts this query creates lazily (Layouts
      // frames / memoized scenarios) — those have owners and stay
      fn(spark, Sf).queryExecution.toRdd.foreach(_ => ())
      val baseline = spark.sparkContext.getPersistentRDDs.keySet
      // pass 2: steady state — anything NEW pinned now has no owner
      fn(spark, Sf).queryExecution.toRdd.foreach(_ => ())
      val after = spark.sparkContext.getPersistentRDDs.keySet
      val leaked = after -- baseline
      info(s"$name: baseline=${baseline.size} after=${after.size}")
      assert(leaked.isEmpty,
        s"$name leaked ${leaked.size} persistent RDD(s) on its second " +
          s"run (ids ${leaked.mkString(",")}) — a per-query persist " +
          "without an unpersist owner")
    }
  }
}
