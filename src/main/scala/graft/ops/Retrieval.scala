package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Hybrid sparse+dense retrieval with reciprocal-rank fusion — the
  * retrieval-augmented-pipeline step that combines a lexical ranker and
  * an embedding ranker into one candidate list (RRF: Cormack/Clarke/
  * Buettcher, SIGIR'09: `score(d) = Σ_lists 1/(k + rank_list(d))`).
  *
  * Scale shape (the probe set is ≪ the corpus — the serving/eval case):
  *   - the probe list, probe term table, restricted document frequencies
  *     and probe vectors are all O(|probes|·terms-per-doc) and travel by
  *     BROADCAST; the corpus is only ever scanned or partially
  *     aggregated — no corpus-sized shuffle anywhere;
  *   - dense scoring is one corpus pass against the broadcast probe
  *     vectors (the exact tier; at higher probe counts the IVF/PQ tiers
  *     in [[Similarity]] replace it — the fusion below is ranker-
  *     agnostic);
  *   - sparse scoring joins the exploded term table against the
  *     broadcast probe terms, so only rows matching a probe term
  *     survive the scan, then partial-aggregates per (probe, doc);
  *   - per-probe top-k runs through the engine's bounded-heap
  *     [[graft.plans.GroupedTopK]] operator (partial phase before the
  *     exchange), never a full window sort of every candidate;
  *   - document frequencies are computed for PROBE terms only
  *     (broadcast-semi-joined scan), not the full vocabulary.
  *
  * Determinism/oracle discipline: both rankers order by their score
  * ROUNDED to 6 decimals with a doc-id tie-break (1-ulp summation-order
  * noise collapses at 6 dp); the RRF sum of ≤ 2 reciprocal terms is
  * order-independent IEEE addition, so ranks and fused scores replay
  * exactly in DuckDB.
  */
object Retrieval {

  /** Per-probe ranked top-k of a scored frame (`probe_id`, `doc_id`,
    * score) via the bounded-heap grouped-top-k operator; the rank window
    * then runs over ≤ k rows per probe. Public so streaming twins can
    * rank their sink tables with the identical tie-break contract.
    */
  def rankTopK(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    val top = graft.plans.GroupedTopK(
      scored, keys = Seq("probe_id"),
      orderBy = Seq((scoreCol, false), ("doc_id", true)), k = k)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col(scoreCol).desc, col("doc_id"))
    top.withColumn("r", row_number().over(w))
  }

  /** Tokenize to the distinct lowercase alpha terms of each document. */
  private def distinctTerms(docs: DataFrame, docCol: String, textCol: String): DataFrame =
    docs.select(col(docCol).as("doc_id"),
      explode(array_distinct(
        filter(split(lower(col(textCol)), "[^a-z]+"), t => t =!= ""))).as("term"))

  /** Dense ranker: exact cosine of every corpus vector against the
    * broadcast probe vectors, per-probe top-k. Self-matches dropped.
    */
  def denseTopK(
      emb: DataFrame, probes: DataFrame, k: Int,
      docCol: String = "doc_id", vecCol: String = "embedding"): DataFrame = {
    val corpus = emb.select(col(docCol).as("doc_id"), col(vecCol).as("cv"))
    val probeVecs = emb.select(col(docCol).as("probe_id"), col(vecCol).as("pv"))
      .join(broadcast(probes.select(col("probe_id"))), Seq("probe_id"))
    val scored = corpus.crossJoin(broadcast(probeVecs))
      .filter(col("doc_id") =!= col("probe_id"))
      .select(col("probe_id"), col("doc_id"),
        round(Similarity.cosine(col("pv"), col("cv")), 6).as("sim"))
    rankTopK(scored, "sim", k)
  }

  /** Sparse ranker: idf-weighted distinct-term overlap (BM25's idf with
    * saturated tf — the lexical score that needs no per-doc length
    * normalization), per-probe top-k. Only corpus rows matching a probe
    * term survive the broadcast semi-join; df is computed for probe
    * terms only.
    */
  def sparseTopK(
      docs: DataFrame, probes: DataFrame, k: Int,
      docCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val terms = distinctTerms(docs, docCol, textCol)
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val probeTerms = terms
      .join(broadcast(probes.select(col("probe_id"))),
        terms("doc_id") === col("probe_id"))
      .select(col("probe_id"), col("term"))
    val dfreq = terms
      .join(broadcast(probeTerms.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val scored = terms
      .join(broadcast(probeTerms), Seq("term"))
      .filter(col("doc_id") =!= col("probe_id"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(round(sum(log(col("n_docs") / col("df"))), 6).as("score"))
    rankTopK(scored, "score", k)
  }

  /** Full per-probe BM25 ranker (Robertson idf, tf saturation k1,
    * length normalization b) — the dynamic-query form of the fixed-term
    * BM25 in the text tier: every probe document's term set is the
    * query. Same broadcast economics as [[sparseTopK]] — the corpus
    * token stream is semi-joined against the broadcast probe terms at
    * the scan, so tf aggregation only ever sees matching rows; df, dl
    * stats and probe terms travel by broadcast.
    */
  def bm25TopK(
      docs: DataFrame, probes: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      docCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(docCol).as("doc_id"),
      filter(split(lower(col(textCol)), "[^a-z]+"), t => t =!= "").as("toks"))
    val dl = toks.select(col("doc_id"), size(col("toks")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl"))
    val terms = toks.select(col("doc_id"), explode(col("toks")).as("term"))
    val probeTerms = terms
      .join(broadcast(probes.select(col("probe_id"))),
        terms("doc_id") === col("probe_id"))
      .select(col("probe_id"), col("term")).distinct()
    // df on the distinct-term table, probe terms only
    val dfreq = terms.select(col("doc_id"), col("term")).distinct()
      .join(broadcast(probeTerms.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val tf = terms
      .join(broadcast(probeTerms), Seq("term"))
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          col("tf") * (k1 + 1) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(round(sum("contrib"), 6).as("score"))
    rankTopK(scored, "score", k)
  }

  /** Fuse any two ranked lists (`probe_id`, `doc_id`, `r`) by RRF and
    * keep the top `topOut` per probe with both source ranks attached
    * (0 = not retrieved by that ranker).
    */
  def rrfFuse(dense: DataFrame, sparse: DataFrame, kFuse: Int, topOut: Int): DataFrame = {
    val d = dense.select(col("probe_id"), col("doc_id"), col("r").as("dr"))
    val s = sparse.select(
      col("probe_id").as("sp"), col("doc_id").as("sd"), col("r").as("sr"))
    val fused = d
      .join(s, col("probe_id") === col("sp") && col("doc_id") === col("sd"),
        "full_outer")
      .select(
        coalesce(col("probe_id"), col("sp")).as("probe_id"),
        coalesce(col("doc_id"), col("sd")).as("doc_id"),
        (coalesce(lit(1.0) / (lit(kFuse) + col("dr")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kFuse) + col("sr")), lit(0.0))).as("rrf"),
        coalesce(col("dr"), lit(0)).cast("int").as("dense_rank"),
        coalesce(col("sr"), lit(0)).cast("int").as("sparse_rank"))
    rankTopK(fused, "rrf", topOut)
      .select(col("probe_id"), col("r").cast("int").as("fused_rank"),
        col("doc_id"), round(col("rrf"), 6).as("rrf"),
        col("dense_rank"), col("sparse_rank"))
  }

  /** End-to-end hybrid retrieval: lexical idf-overlap + exact cosine,
    * RRF-fused. `probeIds` must be a small frame with a `probe_id`
    * column (it is broadcast into every stage).
    */
  def hybridRrf(
      docs: DataFrame, emb: DataFrame, probeIds: DataFrame,
      k: Int = 20, kFuse: Int = 60, topOut: Int = 10): DataFrame =
    rrfFuse(denseTopK(emb, probeIds, k), sparseTopK(docs, probeIds, k),
      kFuse, topOut)

  /** Maximal-Marginal-Relevance diversification of a per-probe
    * candidate list: greedily select `kOut` of the candidates, each
    * step taking argmax of wRel·rel − wDiv·max-similarity-to-selected
    * (ties to the lower doc_id) — the re-ranking pass that stops a
    * result page (or a RAG context window) from being five copies of
    * the same document. Relevance is each candidate's score normalized
    * by its probe's max (a division of two already-rounded doubles —
    * deterministic); similarity is exact-integer term-set Jaccard.
    *
    * Scale shape: everything after candidate generation is bounded by
    * the candidate lists, not the corpus — `docTerms` is scanned once
    * against the broadcast candidates (≤ k·|probes| rows; nothing
    * corpus-sized is shuffled), and ONE group per probe collects its
    * ≤ k candidates with their distinct terms. Term sets, relevance,
    * pair Jaccard and the greedy loop all run inside that group.
    * `wRel`/`wDiv` are passed as literal doubles and must be
    * written identically in any replaying oracle: deriving one from
    * the other re-associates IEEE arithmetic (1 − 0.7 ≠ 0.3 in
    * binary).
    *
    * `cands`: (probe_id, doc_id, score). `docTerms`: DISTINCT
    * (doc_id, term). A candidate with no terms stays selectable, and
    * two candidates that share no term have similarity 0.0.
    * Output: (probe_id, sel_rank, doc_id, mmr).
    */
  def mmrDiversify(
      cands: DataFrame, docTerms: DataFrame,
      wRel: Double = 0.7, wDiv: Double = 0.3, kOut: Int = 5): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val c = cands.select(col("probe_id"), col("doc_id"), col("score"))
    val termed = docTerms.select(col("doc_id"), col("term"))
      .join(broadcast(c), Seq("doc_id"))
    // every candidate once more with a NULL term: a term-less one is kept
    termed.unionByName(c.withColumn("term", lit(null).cast("string")))
      .groupBy(col("probe_id"))
      .agg(collect_list(struct(col("doc_id"), col("score"), col("term"))).as("rows"))
      .as[(Long, Seq[(Long, Double, String)])]
      .flatMap { case (probe, rows) =>
        val terms = rows.groupBy(_._1)
          .map { case (d, rs) => d -> rs.flatMap(r => Option(r._3)).toSet }
        val scores = rows.map(r => r._1 -> r._2).toMap
        val ms = scores.values.max
        def sim(a: Long, b: Long): Double = {
          val (ta, tb) = (terms(a), terms(b))
          val ia = ta.count(tb)
          if (ia == 0) 0.0 else ia.toDouble / (ta.size + tb.size - ia)
        }
        var remaining = scores.toList.sortBy(_._1).map { case (d, score) => (d, score / ms) }
        var selected = List.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Int, Long, Double)]
        var k = 1
        while (k <= kOut && remaining.nonEmpty) {
          val best = remaining.map { case (doc, rel) =>
            val maxSim =
              if (selected.isEmpty) 0.0
              else selected.iterator.map(sim(doc, _)).max
            (doc, wRel * rel - wDiv * maxSim)
          }.minBy { case (doc, m) => (-m, doc) }
          out += ((probe, k, best._1, best._2))
          selected ::= best._1
          remaining = remaining.filterNot(_._1 == best._1)
          k += 1
        }
        out.toSeq
      }
      .toDF("probe_id", "sel_rank", "doc_id", "mmr")
  }
}
