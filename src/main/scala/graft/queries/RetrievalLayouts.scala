package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Shared per-corpus retrieval layouts (r21 verdict task 6 — the
  * shingle-layout pattern applied to the BM25 lineage): the per-probe
  * BM25 ranking and the full-vocabulary impact index were re-planned
  * and re-executed by every consumer — five gates rebuilt the identical
  * tokenize → tf → df → score → top-k lineage per bench run
  * (text_probe_bm25, text_mmr_diversify, eval_ndcg, eval_mrr, and
  * stream_probe_bm25's batch twin), and the streaming serving gate
  * rebuilt its offline impact index inside the micro-batch. Each frame
  * is computed ONCE per corpus and persisted, owned by [[Layouts]]; the bench
  * times the materialization as its own named layout entry (included in
  * `total`, like the dedup layout stages), so the one-time cost is
  * never hidden in warmup nor double-charged to whichever consumer runs
  * first.
  *
  * Equivalence obligations (oracles unchanged):
  *   - eval_ndcg / eval_mrr consumed `bm25TopK(k = 10)`; they now take
  *     `r <= 10` of the shared top-20. rankTopK's ordering is TOTAL per
  *     probe (6-dp-rounded score desc, doc_id asc — doc_id is unique),
  *     so the top-10 rows and their row_number ranks are identical to a
  *     direct k = 10 run.
  *   - the streaming impact index is the same expression tree the gate
  *     built inline, evaluated once and persisted — values unchanged.
  *
  * Scale shape: the ranked frames are ≤ k·|probes| rows (probe-bounded,
  * not corpus-bounded); the impact index is the per-(term, doc) posting
  * table a serving deployment materializes offline with the index build
  * — persisting it here IS the deployment story the streaming gate
  * describes ("the static side a deployment refreshes with the index
  * build").
  */
object RetrievalLayouts {
  import Tables._

  /** The shared probe set of the whole retrieval/eval lineage (identical
    * literal filter in every consumer and oracle CTE).
    */
  def probes(spark: SparkSession, sf: String): DataFrame =
    load(spark, sf, "embeddings")
      .select(col("vec_id").as("probe_id"))
      .filter(col("probe_id") % 100 === 7 && col("probe_id") < 2000)

  /** Distinct (probe_id, term) of the probe documents — tiny
    * (|probes| ≈ 20 docs) and read by `bm25_scores`, `probe_rels` and
    * eval_mrr's term counts, so it is built and persisted once per
    * corpus (first materialized by the `bm25_scores` warm). It is not a
    * declared layout: the bench times it inside its first consumer.
    */
  private def probeDistinctTerms(spark: SparkSession, sf: String): DataFrame =
    Layouts.memo(spark, sf, "probe_terms") {
      load(spark, sf, "documents")
        .join(broadcast(probes(spark, sf)), col("doc_id") === col("probe_id"))
        .select(col("probe_id"),
          explode(array_distinct(
            filter(split(lower(col("text")), "[^a-z]+"), t => t =!= ""))).as("term"))
        .persist(MEMORY_AND_DISK)
    }

  /** Per-probe BM25 top-20 over documents (probe_id, doc_id, score, r)
    * — the verified ranking every batch consumer reads (k = 10
    * consumers take `r <= 10`, a prefix of the same total order).
    *
    * Derived from the shared impact index rather than a second full
    * tokenize → tf → df pass: score(p, d) = round(Σ_{t ∈ terms(p)}
    * contrib(t, d), 6) — term-restricted df equals full-vocabulary df
    * for the same term, and contrib(t, d) is probe-independent, so this
    * is the identical quantity `Retrieval.bm25TopK` computes (the
    * stream_probe_bm25 parity gate proves exactly this sum-from-index ≡
    * direct-bm25TopK equality at 6 dp every run).
    */
  def bm25Top20(spark: SparkSession, sf: String): DataFrame =
    Layouts.memo(spark, sf, "bm25_scores") {
      val scored = probeDistinctTerms(spark, sf)
        .join(bm25ImpactIndex(spark, sf), Seq("term"))
        .filter(col("doc_id") =!= col("probe_id"))
        .groupBy(col("probe_id"), col("doc_id"))
        .agg(round(sum(col("contrib")), 6).as("score"))
      graft.ops.Retrieval.rankTopK(scored, "score", 20).persist(MEMORY_AND_DISK)
    }

  /** Graded relevance labels shared by eval_ndcg / eval_mrr:
    * rel(p, d) = #distinct probe-p terms document d contains. Both
    * gates built it with a second full corpus tokenize + countDistinct;
    * the impact index already holds exactly one row per (term, doc), so
    * the same INTEGER count derives from a broadcast join against it —
    * exact, no float path.
    */
  def probeRels(spark: SparkSession, sf: String): DataFrame =
    Layouts.memo(spark, sf, "probe_rels") {
      probeDistinctTerms(spark, sf)
        .join(bm25ImpactIndex(spark, sf).select(col("term"), col("doc_id")),
          Seq("term"))
        .filter(col("doc_id") =!= col("probe_id"))
        .groupBy(col("probe_id"), col("doc_id"))
        .agg(count(lit(1)).as("rel"))
        .persist(MEMORY_AND_DISK)
    }

  /** Full-vocabulary BM25 impact index (term, doc_id, contrib) — the
    * offline static side of the streaming serving gate
    * (stream_probe_bm25): per-(term, doc) contribution precomputed from
    * tf/df/dl/corpus stats with k1 = 1.2, b = 0.75 (identical
    * expression tree the gate previously built inline per run).
    */
  def bm25ImpactIndex(spark: SparkSession, sf: String): DataFrame =
    Layouts.memo(spark, sf, "bm25_index") {
      val (k1, b) = (1.2, 0.75)
      val docs = load(spark, sf, "documents")
      val toks = docs.select(col("doc_id"),
        filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "").as("toks"))
      val dl = toks.select(col("doc_id"), size(col("toks")).cast("double").as("dl"))
      val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
        avg("dl").as("avgdl"))
      val terms = toks.select(col("doc_id"), explode(col("toks")).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      tf.join(dfreq, Seq("term")).join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("term"), col("doc_id"),
          (log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
            col("tf") * (k1 + 1) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
            .as("contrib"))
        .persist(MEMORY_AND_DISK)
    }

  /** Hybrid dense+sparse RRF top-10 (probe_id, fused_rank, doc_id, rrf,
    * dense_rank, sparse_rank) — consumed by text_hybrid_rrf and
    * stream_hybrid_rrf's batch parity twin (identical call both sites:
    * hybridRrf(docs, emb, probes) at the defaults).
    */
  def hybridFused(spark: SparkSession, sf: String): DataFrame =
    Layouts.memo(spark, sf, "hybrid_fused") {
      val docs = load(spark, sf, "documents")
      val emb = load(spark, sf, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding"))
      graft.ops.Retrieval.hybridRrf(docs, emb, probes(spark, sf)).persist(MEMORY_AND_DISK)
    }

  /** Per-probe distinct-term counts (probe_id, npt) — eval_mrr's
    * containment denominator; probe-bounded and computed from the probe
    * docs alone.
    */
  def probeTermCounts(spark: SparkSession, sf: String): DataFrame =
    probeDistinctTerms(spark, sf)
      .groupBy(col("probe_id")).agg(count(lit(1)).as("npt"))

  /** Eager materialization hooks, one bench entry each (see [[Layouts]]). */
  def warmBm25Scores(spark: SparkSession, sf: String): Long =
    Layouts.warm(spark, sf, "bm25_scores")
  def warmProbeRels(spark: SparkSession, sf: String): Long =
    Layouts.warm(spark, sf, "probe_rels")
  def warmBm25Index(spark: SparkSession, sf: String): Long =
    Layouts.warm(spark, sf, "bm25_index")
  def warmHybridFused(spark: SparkSession, sf: String): Long =
    Layouts.warm(spark, sf, "hybrid_fused")
}
