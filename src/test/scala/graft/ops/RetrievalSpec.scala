package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the hybrid-retrieval RRF operator: ranker semantics (self
  * exclusion, idf weighting), the fusion arithmetic, and
  * partitioning-independence of the ranked output.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // 6 docs: 0 and 1 share rare term "zebra"; all share "the" (idf 0);
  // vectors put 0≈2 and 0≈1 at opposing similarity extremes.
  private def docs = Seq(
    (0L, "the zebra runs fast"),
    (1L, "the zebra sleeps"),
    (2L, "the cat sleeps"),
    (3L, "the dog runs"),
    (4L, "the bird sings"),
    (5L, "the fish swims")).toDF("doc_id", "text")

  private def emb = Seq(
    (0L, Array(1.0, 0.0)),
    (1L, Array(0.0, 1.0)),
    (2L, Array(0.9, 0.1)),
    (3L, Array(0.5, 0.5)),
    (4L, Array(-1.0, 0.0)),
    (5L, Array(0.1, 0.9))).toDF("doc_id", "embedding")

  private def probe = Seq(0L).toDF("probe_id")

  test("dense ranker: exact cosine order, probe excluded") {
    val r = Retrieval.denseTopK(emb, probe, k = 3)
      .orderBy("r").select("doc_id", "r").as[(Long, Int)].collect()
    // cos vs (1,0): doc2 0.9939, doc3 0.7071, doc5 0.1104 — doc0 (self) out
    assert(r.toSeq === Seq((2L, 1), (3L, 2), (5L, 3)))
  }

  test("sparse ranker: idf-weighted overlap ranks the rare-term doc first; ubiquitous terms contribute ln(1)=0") {
    val r = Retrieval.sparseTopK(docs, probe, k = 5)
      .orderBy("r").select("doc_id", "r", "score").as[(Long, Int, Double)].collect()
    // probe terms {the, zebra, runs, fast}: doc1 shares {the, zebra} →
    // ln(6/2); doc3 shares {the, runs} → ln(6/2); tie → doc_id order.
    // docs 2/4/5 share only "the" (df=6 → ln 1 = 0).
    assert(r.map(t => (t._1, t._2)).toSeq === Seq((1L, 1), (3L, 2), (2L, 3), (4L, 4), (5L, 5)))
    assert(r(0)._3 === r(1)._3) // identical idf sums
    assert(r(2)._3 === 0.0)
  }

  test("RRF fusion: reciprocal-rank sum with k=60, absent side contributes 0, rank 0 marks it") {
    val out = Retrieval.hybridRrf(docs, emb, probe, k = 2, topOut = 6)
      .orderBy("fused_rank")
      .select("doc_id", "rrf", "dense_rank", "sparse_rank")
      .as[(Long, Double, Int, Int)].collect()
    // dense top-2: doc2(r1), doc3(r2); sparse top-2: doc1(r1), doc3(r2)
    // doc3: 1/62+1/62; doc2: 1/61; doc1: 1/61 → doc3 first, then doc1/doc2 tie → doc_id
    assert(out.map(_._1).toSeq === Seq(3L, 1L, 2L))
    val exp3 = BigDecimal(1.0 / 62 + 1.0 / 62).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0)._2 === exp3)
    assert(out(0)._3 === 2 && out(0)._4 === 2)
    assert(out(1)._3 === 0 && out(1)._4 === 1) // doc1: dense-absent
    assert(out(2)._3 === 1 && out(2)._4 === 0) // doc2: sparse-absent
  }

  test("per-probe BM25: rare-term docs outrank ubiquitous-term docs, probe excluded, symmetric docs tie") {
    val r = Retrieval.bm25TopK(docs, probe, k = 6)
      .orderBy("r").select("doc_id", "r", "score").as[(Long, Int, Double)].collect()
    // probe 0 terms {the, zebra, runs, fast}: doc1 {the, zebra} and
    // doc3 {the, runs} are structurally symmetric (same dl=3, zebra and
    // runs both df=2) → equal scores, doc_id tie-break; docs 2/4/5
    // share only "the" (df=6 → smallest idf) and rank below.
    assert(r.map(_._1).take(2).toSeq === Seq(1L, 3L))
    assert(r(0)._3 === r(1)._3)
    assert(!r.map(_._1).contains(0L)) // self excluded
    assert(r.drop(2).forall(_._3 < r(0)._3))
  }

  test("hybrid output is partitioning-independent") {
    val base = Retrieval.hybridRrf(docs, emb, probe).collect().toSeq
    val repart = Retrieval.hybridRrf(
      docs.repartition(7), emb.repartition(5), probe).collect().toSeq
    assert(base === repart)
    assert(base.nonEmpty)
  }

  test("MMR: exact greedy selections, term-less candidates kept, empty-set similarity 0, ties to the lower doc_id") {
    // probe 1: rel = score / 8. d10 and d11 share all four terms
    // (Jaccard 1); d13 is disjoint from both; d12 and d15 have no terms
    // at all (absent from docTerms), so every pair with them is 0.0.
    // probe 2 has 2 candidates, fewer than kOut; d20 ⊂ d21 gives 3/4.
    // d99 has terms but is no candidate.
    val cands = Seq(
      (1L, 10L, 8.0), (1L, 11L, 6.0), (1L, 12L, 4.0), (1L, 13L, 4.0), (1L, 15L, 2.0),
      (2L, 20L, 3.0), (2L, 21L, 1.5)).toDF("probe_id", "doc_id", "score")
    val docTerms = (Seq("a", "b", "c", "d").flatMap(t => Seq((10L, t), (11L, t))) ++
      Seq((13L, "e"), (13L, "f"), (99L, "a")) ++
      Seq("x", "y", "z").map(t => (20L, t)) ++ Seq("x", "y", "z", "w").map(t => (21L, t)))
      .toDF("doc_id", "term")
    val out = Retrieval.mmrDiversify(cands, docTerms, wRel = 0.5, wDiv = 0.5, kOut = 5)
      .orderBy("probe_id", "sel_rank")
      .select("probe_id", "sel_rank", "doc_id", "mmr")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(out === Seq(
      // step 1: argmax of 0.5·rel
      (1L, 1, 10L, 0.5),
      // step 2: d12 (term-less) and d13 (disjoint) tie at 0.5·0.5 − 0 →
      // the lower doc_id; d11 reads 0.5·0.75 − 0.5·1 = −0.125
      (1L, 2, 12L, 0.25),
      (1L, 3, 13L, 0.25),
      // d15 vs the term-less d12 is 0.0, not NaN: 0.5·0.25 − 0
      (1L, 4, 15L, 0.125),
      (1L, 5, 11L, -0.125),
      (2L, 1, 20L, 0.5),
      // 0.5·0.5 − 0.5·(3 / (3 + 4 − 3))
      (2L, 2, 21L, -0.125)))
  }
}
