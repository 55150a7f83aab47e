package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded document corpus in the shape of the repository's `documents`
  * table (doc_id, text, lang, source, n_chars): space-separated tokens
  * from a small technical vocabulary plus stopwords, seeded salted
  * tokens, script-specific words for non-English documents, a share of
  * too-short and single-token-dominated documents the quality gate
  * rejects, and a seeded share of exact duplicates (some upper-cased, so
  * only the canonical fingerprint matches them).
  */
object Docs {
  val Vocab = Seq("batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "window", "row", "table", "stream", "merge", "data", "join", "vector",
    "customer", "index", "cache")
  val Stopwords = Seq("the", "a", "of", "and", "to", "in")
  private val Langs = Seq("en", "en", "en", "en", "es", "ru", "zh", "de", "fr")
  private val Flavour = Map("es" -> Seq("año", "niño", "señal"), "ru" -> Seq("данные", "поток"),
    "zh" -> Seq("数据", "查询"), "de" -> Seq("daten", "und"), "fr" -> Seq("donnée", "les"))

  private def arr(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("array(", ",", ")")

  /** `n` documents with doc_id 0 until n. `dupPct` percent of documents
    * (never doc 0) repeat the text of a random earlier document.
    */
  def generate(spark: SparkSession, seed: Long, n: Long, dupPct: Int, sources: Int): DataFrame = {
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    def h(salt: String, c: String) = s"xxhash64(${seed}L, '$salt', $c)"
    val flavour = Flavour.map { case (l, ws) => s"WHEN '$l' THEN ${arr(ws)}" }
      .mkString("CASE lang ", " ", s" ELSE ${arr(Seq("the"))} END")
    spark.range(0, n, 1, parts).toDF("doc_id")
      .withColumn("t", expr(s"CASE WHEN doc_id > 0 AND pmod(${h("dup", "doc_id")}, 100) < $dupPct " +
        s"THEN pmod(${h("dupof", "doc_id")}, doc_id) ELSE doc_id END"))
      .withColumn("lang", expr(s"element_at(${arr(Langs)}, CAST(pmod(${h("lang", "t")}, ${Langs.size}) + 1 AS INT))"))
      .withColumn("ntok", expr(s"CAST(20 + pmod(${h("len", "t")}, 140) AS INT)"))
      .withColumn("rep", expr(s"pmod(${h("rep", "t")}, 100) < 5"))
      .withColumn("flavour", expr(flavour))
      .withColumn("toks", expr(
        s"""transform(sequence(1, ntok), i -> CASE
           |  WHEN rep AND pmod(xxhash64(${seed}L, 'r', t, i), 3) > 0 THEN 'spark'
           |  WHEN pmod(xxhash64(${seed}L, 'k', t, i), 100) < 14
           |    THEN element_at(${arr(Stopwords)}, CAST(pmod(xxhash64(${seed}L, 's', t, i), ${Stopwords.size}) + 1 AS INT))
           |  WHEN lang <> 'en' AND pmod(xxhash64(${seed}L, 'k', t, i), 100) < 24
           |    THEN element_at(flavour, CAST(pmod(xxhash64(${seed}L, 'f', t, i), size(flavour)) + 1 AS INT))
           |  WHEN pmod(xxhash64(${seed}L, 'k', t, i), 100) < 30
           |    THEN concat('w', CAST(pmod(xxhash64(${seed}L, 'w', t, i), 50000) AS STRING))
           |  ELSE element_at(${arr(Vocab)}, CAST(pmod(xxhash64(${seed}L, 'v', t, i), ${Vocab.size}) + 1 AS INT))
           |END)""".stripMargin))
      .withColumn("text0", array_join(col("toks"), " "))
      .withColumn("text", expr(s"CASE WHEN t <> doc_id AND pmod(${h("upper", "doc_id")}, 2) = 0 " +
        "THEN upper(text0) ELSE text0 END"))
      .select(col("doc_id"), col("text"), col("lang"),
        expr(s"concat('src', CAST(pmod(${h("src", "doc_id")}, $sources) AS STRING))").as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Stage `df` as `files` parquet files of contiguous doc_id ranges with
    * ascending modification times — the file stream source's replay
    * order under maxFilesPerTrigger=1.
    */
  def stage(df: DataFrame, n: Long, files: Int, dir: String, tmp: String): Unit = {
    val out = new java.io.File(dir)
    out.mkdirs()
    val step = (n + files - 1) / files
    val t0 = System.currentTimeMillis() - files * 10000L
    (0 until files).foreach { k =>
      val chunkDir = s"$tmp/chunk$k"
      df.filter(col("doc_id") >= k * step && col("doc_id") < (k + 1) * step)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir)
      val part = new java.io.File(chunkDir).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(out, f"chunk_$k%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      require(dst.setLastModified(t0 + k * 10000L), s"cannot set mtime of $dst")
    }
  }
}
