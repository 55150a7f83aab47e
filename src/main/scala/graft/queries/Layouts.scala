package graft.queries

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of every per-corpus shared frame: the dedup staging
  * tables, the BM25 retrieval lineage, the shared token counts and
  * eval labels, and the memoized fixpoint results. Each frame is built
  * once per (SparkContext, corpus dir, name) and then handed to every
  * consumer. Keying by context keeps sharing across `newSession()`
  * children (they share the context) and never hands out a frame
  * whose context was stopped. The memo does not persist: each build
  * decides its own storage (a persist tier, or an eager checkpoint
  * whose pinned blocks are the data).
  *
  * The seven layouts the bench times are declared below in dependency
  * order, with the queries that read them. The bench derives from these
  * declarations which layouts to warm for a query selection, in which
  * order, and which to skip once a layout they depend on has failed.
  */
object Layouts {

  private val frames =
    scala.collection.concurrent.TrieMap.empty[(SparkContext, String, String), DataFrame]

  /** The frame `name` of corpus `sf`, built by `build` on first request.
    * Frames of stopped contexts are dropped here, so they are not kept
    * reachable.
    */
  def memo(spark: SparkSession, sf: String, name: String)(build: => DataFrame): DataFrame = {
    frames.keys.filter(_._1.isStopped).foreach(frames.remove)
    frames.getOrElseUpdate((spark.sparkContext, sf, name), build)
  }

  /** Names of the frames held for corpus `sf` in this session's context. */
  def held(spark: SparkSession, sf: String): Set[String] =
    frames.keys.collect { case (sc, d, n) if (sc eq spark.sparkContext) && d == sf => n }.toSet

  /** A bench-timed layout. `consumers` are query names; a trailing `*`
    * matches a name prefix. A layout is warmed when one of its consumers
    * or a consumer of a dependent layout is selected.
    */
  final case class Layout(name: String, deps: Seq[String], consumers: Seq[String],
      frame: (SparkSession, String) => DataFrame) {
    /** The bench entry that times this layout. */
    def entry: String = s"layout_$name"
    def consumedBy(query: String): Boolean = consumers.exists { c =>
      if (c.endsWith("*")) query.startsWith(c.init) else query == c
    }
  }

  private val Dedup = Seq("dedup*")

  val declared: Seq[Layout] = Seq(
    Layout("shingles", Nil, Dedup, DedupQueries.sharedShingles),
    Layout("edges", Seq("shingles"), Dedup, DedupQueries.sharedClusterEdges),
    Layout("windows", Nil, Dedup, DedupQueries.sharedWindows),
    Layout("bm25_index", Nil,
      Seq("text_mmr_diversify", "stream_probe_bm25", "stream_hybrid_rrf"),
      RetrievalLayouts.bm25ImpactIndex),
    Layout("bm25_scores", Seq("bm25_index"),
      Seq("text_probe_bm25", "text_mmr_diversify", "eval_ndcg", "eval_mrr",
        "stream_probe_bm25"),
      RetrievalLayouts.bm25Top20),
    Layout("probe_rels", Seq("bm25_index"), Seq("eval_ndcg", "eval_mrr"),
      RetrievalLayouts.probeRels),
    Layout("hybrid_fused", Nil, Seq("text_hybrid_rrf", "stream_hybrid_rrf"),
      RetrievalLayouts.hybridFused))

  /** Bench entries reported as the sum of their member layouts' walls
    * (kept for series continuity, excluded from the total).
    */
  val sums: Seq[(String, Seq[String])] =
    Seq("layout_shared_shingles" -> Seq("shingles", "edges", "windows"))

  def layout(name: String): Layout =
    declared.find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no declared layout '$name'"))

  /** Materialize layout `name` of corpus `sf`; returns its row count. */
  def warm(spark: SparkSession, sf: String, name: String): Long =
    layout(name).frame(spark, sf).count()

  /** The declared layouts a run of `queries` reads, in dependency order. */
  def needed(queries: Iterable[String]): Seq[Layout] = {
    val need = declared.foldRight(Set.empty[String]) { (l, acc) =>
      if (queries.exists(l.consumedBy) || dependents(l.name).exists(acc)) acc + l.name
      else acc
    }
    declared.filter(l => need(l.name))
  }

  /** Every layout built on `name`, directly or transitively. */
  def dependents(name: String): Set[String] =
    declared.foldLeft(Set.empty[String]) { (acc, l) =>
      if (l.deps.exists(d => d == name || acc(d))) acc + l.name else acc
    }
}
