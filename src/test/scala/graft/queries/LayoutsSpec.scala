package graft.queries

import graft.SparkSpec

/** The layout registry's declarations checked against the real lineage.
  * Every test works on a fresh copy of the corpus, so no layout of it is
  * warm when the test starts.
  */
class LayoutsSpec extends SparkSpec {

  private def freshCorpus(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_layouts")
    new java.io.File(Sf).listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName)))
    dir.toString
  }

  private def withDeps(name: String): Set[String] =
    Layouts.layout(name).deps.toSet.flatMap(withDeps) + name

  /** Undeclared memoised frames a layout's build reads: not bench
    * entries of their own, but held once built.
    */
  private val Internal = Map(
    "bm25_scores" -> Set("probe_terms"), "probe_rels" -> Set("probe_terms"))

  test("warming a declared layout holds exactly it and its declared dependencies") {
    for (l <- Layouts.declared) {
      val sf = freshCorpus()
      Layouts.warm(spark, sf, l.name)
      val expected = withDeps(l.name) ++ Internal.getOrElse(l.name, Set.empty)
      assert(Layouts.held(spark, sf) == expected,
        s"${l.name}: held ${Layouts.held(spark, sf)}, expected $expected")
    }
  }

  test("a second request returns the same frame and pins nothing new") {
    val sf = freshCorpus()
    for (l <- Layouts.declared) {
      val first = l.frame(spark, sf)
      first.count()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(l.frame(spark, sf) eq first, s"${l.name}: rebuilt on the second request")
      assert(l.frame(spark.newSession(), sf) eq first,
        s"${l.name}: a child session of the same context must share the frame")
      l.frame(spark, sf).count()
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        s"${l.name}: the second request pinned new storage")
    }
  }

  test("a failed layout skips exactly its dependents") {
    assert(Layouts.dependents("bm25_index") == Set("bm25_scores", "probe_rels"))
    assert(Layouts.dependents("shingles") == Set("edges"))
    assert(Layouts.dependents("hybrid_fused").isEmpty)
  }

  test("a query selection warms the layouts its consumers read, in dependency order") {
    def needed(qs: String*) = Layouts.needed(qs).map(_.name)
    assert(needed("dedup_ngram_jaccard") == Seq("shingles", "edges", "windows"))
    assert(needed("eval_ndcg") == Seq("bm25_index", "bm25_scores", "probe_rels"))
    assert(needed("text_probe_bm25") == Seq("bm25_index", "bm25_scores"))
    assert(needed("stream_hybrid_rrf") == Seq("bm25_index", "hybrid_fused"))
    assert(needed("q1_pricing_summary").isEmpty)
    assert(needed(graft.SparkEntry.queries.keys.toSeq: _*) == Layouts.declared.map(_.name))
  }
}
