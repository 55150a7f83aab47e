package graft.queries

import graft.ops.{Dedup, Multimodal, Subword, TextOps}
import org.apache.spark.sql.functions._

/** Text-analysis + multimodal queries over the `documents` table. */
object TextQueries {
  import Tables._

  val defs: Seq[QueryDef] = Seq(

    // Token counting (whitespace) — exact integer stats per doc.
    // Subword oracle: the pre-tokenizer split yields exactly the alnum
    // runs plus one unit per non-alnum non-space char (RE2 in DuckDB has
    // no lookarounds, so the oracle counts those two classes directly).
    QueryDef("text_token_count",
      (spark, sf) => load(spark, sf, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextOps.subwordCount(col("text")).cast("long").as("n_subwords"),
          length(col("text")).cast("long").as("n_chars_obs"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
             |    + len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_subwords,
             |  CAST(LENGTH(text) AS BIGINT) AS n_chars_obs
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Quality scoring: exact integer counts + single-division ratios.
    QueryDef("text_quality",
      (spark, sf) => {
        val d = load(spark, sf, "documents")
        val cols = TextOps.qualityColumns(col("text"))
        d.select(col("doc_id") +: cols.map { case (n, c) =>
          (if (n.endsWith("_ratio") || n.startsWith("avg_")) c else c.cast("long")).as(n)
        }: _*).orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
             |  CAST(LENGTH(text) AS BIGINT) AS n_chars,
             |  CAST(len(list_filter(string_split(text,' '), t -> list_contains(['the','a','of','and','to','in'], t))) AS BIGINT) AS n_stopwords,
             |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_unique_tokens,
             |  CAST(len(list_filter(string_split(text,' '), t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE) / len(string_split(text,' ')) AS stopword_ratio,
             |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) AS type_token_ratio,
             |  CAST(LENGTH(text) - len(string_split(text,' ')) + 1 AS DOUBLE) / len(string_split(text,' ')) AS avg_token_len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Language-ID heuristic (script ranges + stopword cascade). The
    // cascade is SQL-expressible, so it gets a full oracle.
    QueryDef("text_langid",
      (spark, sf) => load(spark, sf, "documents")
        .select(col("doc_id"), TextOps.langIdHeuristic(col("text")).as("predicted_lang"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CASE
             |    WHEN regexp_matches(lower(text), '[一-鿿]') THEN 'zh'
             |    WHEN regexp_matches(lower(text), '[Ѐ-ӿ]') THEN 'ru'
             |    WHEN regexp_matches(lower(text), '[áéíóúñ¿¡]') THEN 'es'
             |    WHEN CAST(len(list_filter(string_split(lower(text),' '), t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE) / len(string_split(lower(text),' ')) > 0.02 THEN 'en'
             |    ELSE 'unknown' END AS predicted_lang
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Document fingerprinting: md5 canonical-form hash (engine-stable).
    QueryDef("text_fingerprint",
      (spark, sf) => load(spark, sf, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Corpus stats rollup by (lang, source).
    QueryDef("text_corpus_stats",
      (spark, sf) => load(spark, sf, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("total_tokens"))
        .orderBy(col("lang"), col("source")),
      Some("""SELECT lang, source, COUNT(*) AS n_docs,
             |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens
             |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin)),

    // Heavy hitters via the custom space-saving Aggregator: bounded
    // memory per partition (capacity counters), shuffle = capacity rows
    // per partition. capacity (256) ≥ vocabulary here ⇒ exact counts,
    // so the DuckDB oracle applies; the eviction path is spec-tested.
    QueryDef("text_heavy_hitters",
      (spark, sf) => {
        val words = load(spark, sf, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
        words.agg(graft.ops.Sketches.topKUdaf(256, 10)(col("word")).as("topk"))
          .select(explode(col("topk")).as("kv"))
          .select(col("kv._1").as("word"), col("kv._2").as("cnt"))
          .orderBy(col("cnt").desc, col("word"))
      },
      Some("""SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
             |  SELECT UNNEST(string_split(text, ' ')) AS word FROM documents) t
             |GROUP BY word ORDER BY cnt DESC, word LIMIT 10""".stripMargin)),

    // PII scrubbing: URL/email/IPv4 redaction + per-category counts —
    // the pre-training safety pass, verified cross-engine (patterns are
    // Java-regex/RE2 compatible; behavior on PII-bearing text is
    // spec-tested with synthetic rows).
    QueryDef("text_redact_pii",
      (spark, sf) => {
        val counts = TextOps.piiCounts(col("text"))
        load(spark, sf, "documents")
          .select(col("doc_id") +:
            md5(TextOps.redactPii(col("text"))).as("redacted_fp") +:
            counts.map { case (n, c) => c.as(n) }: _*)
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
             |  md5(regexp_replace(regexp_replace(regexp_replace(text,
             |    'https?://[^ ]+', '[URL]', 'g'),
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '[IP]', 'g')) AS redacted_fp,
             |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_ips
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Token-id encoding: vocab built from the corpus by frequency rank
    // (count desc, token asc — dense ids from 1), documents re-emitted
    // as (doc_id, pos, token_id) rows — the string→int encoding step a
    // training pipeline runs before batching. The rank is computed with
    // range-repartition + zipWithIndex (per-partition counts + a driver
    // prefix sum), NOT a partitionless row_number window — a web-scale
    // vocabulary is 10^8 tokens and a global window would funnel it
    // through one task. The encode itself is a join keyed on the token.
    QueryDef("text_token_ids",
      (spark, sf) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
        val toks = load(spark, sf, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        val vocab0 = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
          .repartitionByRange(col("cnt").desc, col("tok").asc)
          .sortWithinPartitions(col("cnt").desc, col("tok").asc)
        val vocab = spark.createDataFrame(
          vocab0.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1).toInt) },
          StructType(vocab0.schema.fields :+ StructField("token_id", IntegerType)))
        toks.join(vocab.select(col("tok"), col("token_id")), Seq("tok"))
          .select(col("doc_id"), col("pos"), col("token_id"))
          .orderBy(col("doc_id"), col("pos"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text,' ')) AS tok,
             |    generate_subscripts(string_split(text,' '), 1) - 1 AS pos
             |  FROM documents),
             |vocab AS (
             |  SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS token_id
             |  FROM toks GROUP BY tok)
             |SELECT t.doc_id, CAST(t.pos AS INT) AS pos, CAST(v.token_id AS INT) AS token_id
             |FROM toks t JOIN vocab v USING (tok)
             |ORDER BY doc_id, pos""".stripMargin)),

    // Subword (WordPiece) tokenization: greedy longest-match against a
    // broadcast vocabulary — zero shuffles; the matcher streams each
    // partition through one shared hash set. The oracle replays the
    // greedy loop as a recursive CTE whose VALUES list is generated from
    // the very same `Subword.DefaultVocab`, so Spark and DuckDB agree on
    // pieces AND ids by construction.
    QueryDef("text_wordpiece",
      (spark, sf) => Subword.wordpiece(
          load(spark, sf, "documents").filter(col("doc_id") % 10 === 0),
          "doc_id", "text", Subword.DefaultVocab)
        .orderBy(col("doc_id"), col("pos"), col("piece_pos")),
      Some {
        val values = Subword.DefaultVocab.zipWithIndex
          .map { case (p, i) => s"(${i + 1},'$p')" }.mkString(",")
        s"""WITH RECURSIVE vocab(piece_id, piece) AS (
           |  SELECT * FROM (VALUES $values) v(piece_id, piece)
           |),
           |toks AS (
           |  SELECT doc_id,
           |    generate_subscripts(regexp_split_to_array(lower(text), '[^a-z]+'), 1) - 1 AS pos,
           |    unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
           |  FROM documents WHERE doc_id % 10 = 0
           |),
           |seg(doc_id, pos, word, off, piece_pos, piece) AS (
           |  SELECT doc_id, pos, word, 0, -1, CAST(NULL AS VARCHAR) FROM toks WHERE word <> ''
           |  UNION ALL
           |  SELECT s.doc_id, s.pos, s.word,
           |    s.off + len(m.piece) - CASE WHEN s.off > 0 THEN 2 ELSE 0 END,
           |    s.piece_pos + 1, m.piece
           |  FROM seg s, LATERAL (
           |    SELECT v.piece FROM vocab v
           |    WHERE CASE WHEN s.off = 0
           |      THEN v.piece NOT LIKE '##%' AND v.piece = substr(s.word, 1, len(v.piece))
           |      ELSE v.piece LIKE '##%'
           |        AND substr(v.piece, 3) = substr(s.word, s.off + 1, len(v.piece) - 2)
           |    END
           |    ORDER BY len(v.piece) DESC, v.piece LIMIT 1
           |  ) m
           |  WHERE s.off < len(s.word)
           |)
           |SELECT s.doc_id, CAST(s.pos AS INT) AS pos, CAST(s.piece_pos AS INT) AS piece_pos,
           |  CAST(v.piece_id AS INT) AS piece_id, s.piece
           |FROM seg s JOIN vocab v ON s.piece = v.piece
           |WHERE s.piece IS NOT NULL
           |ORDER BY doc_id, pos, piece_pos""".stripMargin
      }),

    // BPE tokenizer TRAINING (Sennrich et al.), fully oracled: the corpus
    // collapses once into a distinct-word frequency table; each merge
    // round is one map-side-combined pair-count aggregation plus a
    // one-row argmax (count DESC, pair ASC — total order). The DuckDB
    // oracle replays the identical algorithm as a generated chain of
    // word-table → pair-count → argmax CTE stages, each merge applied
    // with one single-pass string replace over the double-space-delimited
    // symbol string — so every learned merge and its count is verified
    // end-to-end, iteration by iteration.
    QueryDef("text_bpe_train",
      (spark, sf) => {
        val merges = Subword.bpeTrain(load(spark, sf, "documents"), "text", 12)
        import spark.implicits._
        merges.toDF("rank", "l", "r", "cnt").orderBy(col("rank"))
      },
      Some {
        // AS MATERIALIZED: each stage references its predecessor more
        // than once (directly + through both argmax scalar subqueries);
        // inlined CTEs would re-evaluate the whole prefix chain
        // exponentially.
        val n = 12
        val stages = (0 until n).flatMap { k =>
          val pair = s"""p$k AS MATERIALIZED (
            |  SELECT t[i] AS l, t[i + 1] AS r, SUM(freq) AS c FROM (
            |    SELECT string_split(trim(s), '  ') AS t, freq,
            |      unnest(range(1, len(string_split(trim(s), '  ')))) AS i
            |    FROM w$k)
            |  GROUP BY 1, 2),
            |b$k AS MATERIALIZED (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1)""".stripMargin
          val next = if (k == n - 1) Nil else Seq(s"""w${k + 1} AS MATERIALIZED (
            |  SELECT replace(s, (SELECT ' ' || l || '  ' || r || ' ' FROM b$k),
            |    (SELECT ' ' || l || r || ' ' FROM b$k)) AS s, freq FROM w$k)""".stripMargin)
          Seq(pair) ++ next
        }
        val out = (0 until n)
          .map(k => s"SELECT $k AS rank, l, r, c FROM b$k").mkString("\nUNION ALL\n")
        s"""WITH w0 AS MATERIALIZED (
           |  SELECT regexp_replace(word, '(.)', ' \\1 ', 'g') AS s,
           |    COUNT(*) AS freq
           |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
           |        FROM documents)
           |  WHERE word <> '' GROUP BY 1),
           |${stages.mkString(",\n")}
           |SELECT CAST(rank AS INT) AS rank, l, r, CAST(c AS BIGINT) AS cnt
           |FROM (${out})
           |ORDER BY rank""".stripMargin
      }),

    // BPE encode with a fixed (offline-trained) literal merge list: the
    // scale shape of wordpiece — merges broadcast once, one typed pass,
    // zero shuffle. The oracle replays the ranked merges as nested
    // single-pass replaces over the identical literal list.
    QueryDef("text_bpe_encode",
      (spark, sf) => Subword.bpeEncode(
          load(spark, sf, "documents").filter(col("doc_id") % 10 === 3),
          "doc_id", "text", Subword.DefaultMerges)
        .orderBy(col("doc_id"), col("pos"), col("piece_pos")),
      Some {
        val spaced = "regexp_replace(word, '(.)', ' \\1 ', 'g')"
        val replaced = Subword.DefaultMerges.foldLeft(spaced) { case (acc, (l, r)) =>
          s"replace($acc, ' $l  $r ', ' $l$r ')"
        }
        s"""WITH toks AS (
           |  SELECT doc_id,
           |    generate_subscripts(regexp_split_to_array(lower(text), '[^a-z]+'), 1) - 1 AS pos,
           |    unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
           |  FROM documents WHERE doc_id % 10 = 3
           |),
           |enc AS (
           |  SELECT doc_id, pos, string_split(trim($replaced), '  ') AS pieces
           |  FROM toks WHERE word <> ''
           |)
           |SELECT doc_id, CAST(pos AS INT) AS pos,
           |  CAST(generate_subscripts(pieces, 1) - 1 AS INT) AS piece_pos,
           |  unnest(pieces) AS piece
           |FROM enc ORDER BY doc_id, pos, piece_pos""".stripMargin
      }),

    // Unigram-LM tokenizer (Kudo 2018) — the third subword family next
    // to BPE (merge-ordered) and WordPiece (greedy longest-match):
    // pieces carry -log-prob costs and each word takes its MIN-COST
    // Viterbi segmentation. Scale shape mirrors bpeTrain: substring
    // counting is one map-side-combined agg over the Heaps'-law
    // distinct-word table (the corpus is never rescanned), only the
    // bounded vocab (charset + top-16 multis, deterministic count-DESC
    // piece-ASC order) reaches the driver, and the DP runs as a typed
    // pass over DISTINCT words broadcast-joined back to occurrences.
    // Integer micro-unit costs make the DP sums engine-exact; ties
    // break to fewer pieces so the optimum is unique. The oracle
    // replays the DP by recursive path enumeration (words ≤ 8 chars →
    // ≤ 108 compositions/word) and takes the same lexicographic min.
    QueryDef("text_unigram_viterbi",
      (spark, sf) => {
        import spark.implicits._
        val words = load(spark, sf, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
        val wf = words.groupBy(col("word")).agg(count(lit(1)).as("freq"))
        val costs = Subword.unigramVocabCosts(wf, maxPieceLen = 4, topMulti = 16)
        val bCosts = spark.sparkContext.broadcast(costs.toMap)
        val seg = wf.select(col("word")).as[String]
          .mapPartitions { it =>
            val m = bCosts.value
            it.map { w =>
              val (c, n) = Subword.viterbiSegment(w, m, maxPieceLen = 4)
              (w, c, n)
            }
          }
          .toDF("word", "w_cost", "w_pieces")
        words.join(broadcast(seg), "word")
          .groupBy(col("doc_id"))
          .agg(sum(col("w_pieces").cast("long")).as("n_pieces"),
            sum(col("w_cost")).as("cost_micro"))
          .orderBy(col("doc_id"))
      },
      Some(Shared.UnigramViterbiOracle)),

    // Sliding-window chunking: long documents → overlapping 64-word
    // context windows every 48 words. Pure codegen'd sequence/slice
    // expressions, zero shuffle — output is linear in corpus tokens, the
    // only acceptable cost for a 100 TB chunking pass. Chunks exported as
    // md5 hashes to keep gate rows narrow.
    QueryDef("text_chunking",
      (spark, sf) => load(spark, sf, "documents")
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          posexplode(TextOps.chunkWindows(col("text"), window = 64, stride = 48))
            .as(Seq("chunk_idx", "c")))
        .select(col("doc_id"), col("chunk_idx"),
          col("c.start").cast("int").as("start"),
          size(split(col("c.chunk"), " ")).cast("int").as("n_words"),
          md5(col("c.chunk")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""WITH w AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks
             |  FROM documents WHERE doc_id % 5 = 0
             |),
             |starts AS (
             |  SELECT doc_id, toks,
             |    unnest(range(0, len(toks), 48)) AS start,
             |    generate_subscripts(range(0, len(toks), 48), 1) - 1 AS chunk_idx
             |  FROM w
             |),
             |chunks AS (
             |  SELECT doc_id, chunk_idx, start,
             |    array_to_string(toks[start+1 : start+64], ' ') AS chunk
             |  FROM starts
             |)
             |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
             |  CAST(start AS INT) AS start,
             |  CAST(len(string_split(chunk, ' ')) AS INT) AS n_words,
             |  md5(chunk) AS chunk_hash
             |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin)),

    // BM25 retrieval scoring: the classic probabilistic ranking function
    // (Robertson/Sparck Jones idf, k1=1.2, b=0.75) for a fixed query term
    // set — the relevance-scoring step of a retrieval-augmented data
    // pipeline. Scale shape: tf is one partial-agg shuffle keyed
    // (doc, term) pre-filtered to query terms at the scan; df (|terms|
    // rows) and the corpus stats (1 row) broadcast; the final top-20 is
    // TakeOrderedAndProject, never a global sort.
    QueryDef("text_bm25",
      (spark, sf) => {
        val qTerms = Seq("data", "model", "system", "learning")
        val (k1, b) = (1.2, 0.75)
        val docs = load(spark, sf, "documents")
          .select(col("doc_id"),
            filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "").as("toks"))
        val dl = docs.select(col("doc_id"), size(col("toks")).cast("double").as("dl"))
        val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
        val tf = docs.select(col("doc_id"), explode(col("toks")).as("term"))
          .filter(col("term").isInCollection(qTerms))
          .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
        tf.join(broadcast(dfreq), Seq("term"))
          .join(dl, Seq("doc_id"))
          .crossJoin(broadcast(stats))
          .withColumn("contrib",
            log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
              col("tf") * (k1 + 1) /
              (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .groupBy("doc_id").agg(round(sum("contrib"), 6).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id")).limit(20)
      },
      Some("""WITH docs AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
             |                t -> t <> '') AS toks
             |  FROM documents
             |),
             |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM docs),
             |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
             |tf AS (
             |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
             |  FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
             |  WHERE term IN ('data','model','system','learning')
             |  GROUP BY doc_id, term
             |),
             |dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
             |scored AS (
             |  SELECT t.doc_id,
             |    ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) * t.tf * 2.2 /
             |      (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS contrib
             |  FROM tf t JOIN dfreq d USING (term) JOIN dl l USING (doc_id)
             |  CROSS JOIN stats s
             |)
             |SELECT doc_id, ROUND(SUM(contrib), 6) AS bm25
             |FROM scored GROUP BY doc_id
             |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    // Repetition ratio: repeated 3-shingle fraction per doc (boilerplate
    // signal) — one codegen'd projection, no shuffle.
    QueryDef("text_repetition",
      (spark, sf) => load(spark, sf, "documents")
        .select(col("doc_id"), TextOps.repetitionRatio(col("text"), 3).as("rep_ratio"))
        .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text,' ') t FROM documents),
             |idx AS (SELECT doc_id, unnest(range(len(t)-2)) i, t FROM toks WHERE len(t) >= 3),
             |sh AS (SELECT doc_id, list_aggregate(t[i+1:i+3], 'string_agg', ' ') s FROM idx),
             |agg AS (SELECT doc_id, COUNT(*) total, COUNT(DISTINCT s) uniq FROM sh GROUP BY doc_id)
             |SELECT d.doc_id,
             |  COALESCE(ROUND(1 - CAST(uniq AS DOUBLE)/total, 6), 0.0) AS rep_ratio
             |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // Token-distribution Shannon entropy per doc (lexical-diversity
    // quality signal): explode → (doc, token) counts → one aggregation.
    // Shuffles on doc_id only; rounded to 6 dp so summation order is
    // engine-independent.
    QueryDef("text_token_entropy",
      (spark, sf) => {
        val tf = load(spark, sf, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        val n = tf.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
        tf.join(n, Seq("doc_id"))
          .withColumn("p", col("c").cast("double") / col("n"))
          .groupBy(col("doc_id"))
          .agg(round(-sum(col("p") * log(col("p"))), 6).as("entropy"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) tok FROM documents),
             |tf AS (SELECT doc_id, tok, COUNT(*) c FROM toks GROUP BY 1, 2),
             |n AS (SELECT doc_id, SUM(c) n FROM tf GROUP BY 1)
             |SELECT tf.doc_id,
             |  ROUND(-SUM((CAST(c AS DOUBLE)/n) * ln(CAST(c AS DOUBLE)/n)), 6) AS entropy
             |FROM tf JOIN n ON tf.doc_id = n.doc_id
             |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin)),

    // Deterministic ~20% corpus sample: md5-threshold selection is
    // partitioning/engine-independent (unlike seed-based sample()), so
    // the exact same subset reproduces anywhere — DuckDB agrees row for
    // row, which is the whole point.
    QueryDef("text_sample",
      (spark, sf) => load(spark, sf, "documents")
        .filter(TextOps.deterministicSample(col("doc_id"), 0.2, salt = "r3"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")),
      Some {
        val thr = f"${math.round(0.2 * 0xFFFFFFFFL)}%08x"
        s"""SELECT doc_id, source FROM documents
           |WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'r3'), 1, 8) < '$thr'
           |ORDER BY doc_id""".stripMargin
      }),

    // Rule-based quality filtering (the MassiveText/Gopher-style gate a
    // real pipeline runs before training): document length, mean word
    // length, stopword diversity and repeated-token dominance, each
    // emitted as a flag plus the overall keep decision. Every rule is an
    // integer-exact comparison (bounds cross-multiplied, ratio as
    // max_count·5 ≤ n) so the oracle matches without any float
    // tolerance. One explode+groupBy for the dominance rule — linear,
    // shuffles on doc_id only.
    QueryDef("text_quality_filters",
      (spark, sf) => {
        val d = load(spark, sf, "documents")
        val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val maxFreq = toks.groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(max(col("c")).as("max_tok"))
        val base = d.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars"),
          size(array_distinct(filter(split(col("text"), " "),
            t => t.isInCollection(graft.ops.TextOps.DefaultStopwords))))
            .cast("long").as("n_distinct_stops"))
        base.join(maxFreq, Seq("doc_id"))
          .select(col("doc_id"),
            (col("n_tokens") >= 50 && col("n_tokens") <= 100000L).as("ok_len"),
            // 3 <= (chars - n + 1)/n <= 10, integer-exact
            (col("n_chars") - col("n_tokens") + 1 >= col("n_tokens") * 3 &&
              col("n_chars") - col("n_tokens") + 1 <= col("n_tokens") * 10).as("ok_word_len"),
            (col("n_distinct_stops") >= 2).as("ok_stops"),
            // dominant token <= 20% of tokens, integer-exact
            (col("max_tok") * 5 <= col("n_tokens")).as("ok_dominance"))
          .withColumn("keep",
            col("ok_len") && col("ok_word_len") && col("ok_stops") && col("ok_dominance"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text,' ')) AS BIGINT) n,
             |    CAST(LENGTH(text) AS BIGINT) ch,
             |    CAST(len(list_distinct(list_filter(string_split(text,' '),
             |      t -> list_contains(['the','a','of','and','to','in'], t)))) AS BIGINT) ds
             |  FROM documents),
             |mf AS (
             |  SELECT doc_id, MAX(c) max_tok FROM (
             |    SELECT doc_id, tok, COUNT(*) c
             |    FROM (SELECT doc_id, unnest(string_split(text,' ')) tok FROM documents) t
             |    GROUP BY doc_id, tok) g
             |  GROUP BY doc_id)
             |SELECT doc_id,
             |  n >= 50 AND n <= 100000 AS ok_len,
             |  ch - n + 1 >= n * 3 AND ch - n + 1 <= n * 10 AS ok_word_len,
             |  ds >= 2 AS ok_stops,
             |  max_tok * 5 <= n AS ok_dominance,
             |  (n >= 50 AND n <= 100000) AND (ch - n + 1 >= n * 3 AND ch - n + 1 <= n * 10)
             |    AND ds >= 2 AND max_tok * 5 <= n AS keep
             |FROM base JOIN mf USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // Hashed-feature linear quality classifier (the fastText-style
    // model-scoring tier next to the rule-based gate above): FNV-1a
    // token hash → 64 buckets → integer weight sum → keep threshold.
    // Fully oracled — DuckDB replays the identical hash (the HUGEINT
    // mod-2^64 FNV construction proven by dedup_simhash) and the same
    // literal weight ramp, so scores match exactly.
    QueryDef("text_quality_classifier",
      (spark, sf) => TextOps.hashedLinearScore(
          load(spark, sf, "documents"), "text", "doc_id")
        .orderBy(col("doc_id")),
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
             |)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |  CAST(SUM(((hs & 63) * 37) % 21 - 10) AS BIGINT) AS score,
             |  CAST(CAST(SUM(((hs & 63) * 37) % 21 - 10) AS BIGINT) > 0 AS INT) AS keep
             |FROM hashed GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Bigram PMI corpus statistics (collocation mining — the classic
    // phrase-detection signal for tokenizer/vocab work). Bigrams are
    // built WITHOUT a positional self-join: zip two shifted slices of
    // the token array and explode — per-row projection, no shuffle until
    // the count aggregates. PMI from exact integer counts with one
    // final log, rounded to 6 dp.
    // Dunning log-likelihood-ratio collocations (G²) — the robust
    // standard next to PMI (which over-rewards rare pairs): the full
    // 2×2 contingency likelihood ratio from the SAME one-pass bigram
    // counts, every cell an exact integer, the nine x·ln(x) terms one
    // fixed double expression in both engines (rounded to 4 decimals —
    // integer inputs keep cross-libm ln drift ~1e-10 against unit-scale
    // scores). Ranks multiword expressions for tokenizer/phrase-mining
    // pipelines where PMI's rare-pair bias fails.
    QueryDef("text_collocation_llr",
      (spark, sf) => {
        val arr = split(col("text"), " ")
        val bi = load(spark, sf, "documents")
          .select(explode(arrays_zip(
            slice(arr, lit(1), size(arr) - 1).as("x"),
            slice(arr, lit(2), size(arr) - 1).as("y"))).as("p"))
          .select(col("p.x").as("x"), col("p.y").as("y"))
        val bc = bi.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
        val n = bc.agg(sum(col("c"))).head().getLong(0)
        val lx = bc.groupBy(col("x")).agg(sum(col("c")).as("cx"))
        val ry = bc.groupBy(col("y")).agg(sum(col("c")).as("cy"))
        val llr = expr(
          s"""2.0 * ((CASE WHEN c = 0 THEN 0.0 ELSE c * ln(c) END)
             | + (CASE WHEN cx - c = 0 THEN 0.0 ELSE (cx - c) * ln(cx - c) END)
             | + (CASE WHEN cy - c = 0 THEN 0.0 ELSE (cy - c) * ln(cy - c) END)
             | + (CASE WHEN $n - cx - cy + c = 0 THEN 0.0 ELSE ($n - cx - cy + c) * ln($n - cx - cy + c) END)
             | + $n * ln($n)
             | - cx * ln(cx) - cy * ln(cy)
             | - (CASE WHEN $n - cx = 0 THEN 0.0 ELSE ($n - cx) * ln($n - cx) END)
             | - (CASE WHEN $n - cy = 0 THEN 0.0 ELSE ($n - cy) * ln($n - cy) END))""".stripMargin)
        bc.filter(col("c") >= 5)
          .join(lx, Seq("x")).join(ry, Seq("y"))
          .select(col("x"), col("y"), col("c"), round(llr, 4).as("llr"))
          .orderBy(col("x"), col("y"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text,' ')) tok,
             |    generate_subscripts(string_split(text,' '), 1) pos
             |  FROM documents),
             |bi AS (
             |  SELECT a.tok x, b.tok y FROM toks a JOIN toks b
             |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
             |nn AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM bi),
             |bc AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) c FROM bi GROUP BY x, y),
             |lx AS (SELECT x, CAST(SUM(c) AS BIGINT) cx FROM bc GROUP BY x),
             |ry AS (SELECT y, CAST(SUM(c) AS BIGINT) cy FROM bc GROUP BY y)
             |SELECT bc.x, bc.y, bc.c,
             |  ROUND(2.0 * ((CASE WHEN c = 0 THEN 0.0 ELSE c * ln(c) END)
             |   + (CASE WHEN cx - c = 0 THEN 0.0 ELSE (cx - c) * ln(cx - c) END)
             |   + (CASE WHEN cy - c = 0 THEN 0.0 ELSE (cy - c) * ln(cy - c) END)
             |   + (CASE WHEN n - cx - cy + c = 0 THEN 0.0 ELSE (n - cx - cy + c) * ln(n - cx - cy + c) END)
             |   + n * ln(n)
             |   - cx * ln(cx) - cy * ln(cy)
             |   - (CASE WHEN n - cx = 0 THEN 0.0 ELSE (n - cx) * ln(n - cx) END)
             |   - (CASE WHEN n - cy = 0 THEN 0.0 ELSE (n - cy) * ln(n - cy) END)), 4) AS llr
             |FROM bc JOIN lx USING (x) JOIN ry USING (y) CROSS JOIN nn
             |WHERE c >= 5 ORDER BY x, y""".stripMargin)),

    QueryDef("text_bigram_pmi",
      (spark, sf) => {
        val arr = split(col("text"), " ")
        val bi = load(spark, sf, "documents")
          .select(explode(arrays_zip(
            slice(arr, lit(1), size(arr) - 1).as("x"),
            slice(arr, lit(2), size(arr) - 1).as("y"))).as("p"))
          .select(col("p.x").as("x"), col("p.y").as("y"))
        // aggregate the exploded bigrams ONCE; total and both marginals
        // derive from the (much smaller) count table. No persist: the
        // three consumers share the identical bc subplan, so
        // ReuseExchange serves them from one shuffle — a persist here
        // would pin a cached table per invocation with no release point
        // in a lazy query-returning function
        val bc = bi.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
        val n = bc.agg(sum(col("c"))).head().getLong(0)
        val lx = bc.groupBy(col("x")).agg(sum(col("c")).as("cx"))
        val ry = bc.groupBy(col("y")).agg(sum(col("c")).as("cy"))
        bc.filter(col("c") >= 5)
          .join(lx, Seq("x")).join(ry, Seq("y"))
          .select(col("x"), col("y"), col("c"),
            round(log(col("c").cast("double") * n /
              (col("cx").cast("double") * col("cy"))), 6).as("pmi"))
          .orderBy(col("x"), col("y"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text,' ')) tok,
             |    generate_subscripts(string_split(text,' '), 1) pos
             |  FROM documents),
             |bi AS (
             |  SELECT a.tok x, b.tok y FROM toks a JOIN toks b
             |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
             |n AS (SELECT COUNT(*) nn FROM bi),
             |lx AS (SELECT x, COUNT(*) cx FROM bi GROUP BY x),
             |ry AS (SELECT y, COUNT(*) cy FROM bi GROUP BY y),
             |bc AS (SELECT x, y, COUNT(*) c FROM bi GROUP BY 1, 2)
             |SELECT x, y, c,
             |  ROUND(LN(CAST(c AS DOUBLE) * (SELECT nn FROM n)
             |    / (CAST(cx AS DOUBLE) * cy)), 6) AS pmi
             |FROM bc JOIN lx USING (x) JOIN ry USING (y)
             |WHERE c >= 5 ORDER BY x, y""".stripMargin)),

    // Corpus-level unigram LM quality score (the CCNet-style signal):
    // token probabilities estimated from the corpus itself, each doc
    // scored by mean token log-probability — low scores flag gibberish /
    // rare-token soup. Two shuffles (vocab count, tok⋈prob join);
    // rounded to 6 dp so double-summation order is engine-independent
    // (the text_token_entropy precedent).
    QueryDef("text_unigram_score",
      (spark, sf) => {
        val toks = load(spark, sf, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val total = toks.count()
        val probs = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        toks.join(probs, Seq("tok"))
          .groupBy(col("doc_id"))
          .agg(round(avg(log(col("c").cast("double") / total)), 6).as("mean_logp"),
            count(lit(1)).as("n_tokens"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) tok FROM documents),
             |tot AS (SELECT COUNT(*) n FROM toks),
             |c AS (SELECT tok, COUNT(*) c FROM toks GROUP BY tok)
             |SELECT doc_id,
             |  ROUND(AVG(LN(CAST(c AS DOUBLE) / (SELECT n FROM tot))), 6) AS mean_logp,
             |  COUNT(*) AS n_tokens
             |FROM toks JOIN c USING (tok)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Bigram-LM quality score: per-doc mean log P(w_i | w_{i-1}) from
    // corpus-estimated conditional probabilities — the conditional tier
    // above text_unigram_score (CCNet-style LM filtering without
    // shipping a model). No smoothing needed: every scored bigram
    // exists in the corpus by construction, so probabilities are ratios
    // of exact integer counts with one final log. Bigrams via the same
    // zip-shifted-slices projection as text_bigram_pmi (no positional
    // self-join); docs under two tokens drop out identically in both
    // engines.
    QueryDef("text_bigram_lm",
      (spark, sf) => {
        val arr = split(col("text"), " ")
        val bi = load(spark, sf, "documents")
          .select(col("doc_id"), explode(arrays_zip(
            slice(arr, lit(1), size(arr) - 1).as("x"),
            slice(arr, lit(2), size(arr) - 1).as("y"))).as("p"))
          .select(col("doc_id"), col("p.x").as("x"), col("p.y").as("y"))
        val bc = bi.groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy"))
        val cx = bc.groupBy(col("x")).agg(sum(col("cxy")).as("cx"))
        bi.join(bc, Seq("x", "y")).join(cx, Seq("x"))
          .groupBy(col("doc_id"))
          .agg(round(avg(log(col("cxy").cast("double") / col("cx"))), 6).as("mean_logp"),
            count(lit(1)).as("n_bigrams"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text,' ') t FROM documents),
             |idx AS (SELECT doc_id, unnest(range(len(t)-1)) i, t FROM toks WHERE len(t) >= 2),
             |b AS (SELECT doc_id, t[i+1] x, t[i+2] y FROM idx),
             |bc AS (SELECT x, y, COUNT(*) cxy FROM b GROUP BY x, y),
             |cx AS (SELECT x, SUM(cxy) cx FROM bc GROUP BY x)
             |SELECT doc_id,
             |  ROUND(AVG(LN(CAST(cxy AS DOUBLE) / cx)), 6) AS mean_logp,
             |  COUNT(*) AS n_bigrams
             |FROM b JOIN bc USING (x, y) JOIN cx USING (x)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Stratified deterministic sampling — the dataset-mixing primitive:
    // per-source keep rates (up-sample src0, down-sample the rest)
    // applied via the same engine-independent md5 draw as text_sample;
    // one codegen'd CASE, no join, and DuckDB reproduces the subset
    // row for row.
    QueryDef("text_stratified_sample",
      (spark, sf) => load(spark, sf, "documents")
        .filter(TextOps.stratifiedSample(col("doc_id"), col("source"),
          rates = Map("src0" -> 0.5, "src1" -> 0.25), defaultRate = 0.1, salt = "mix"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")),
      Some {
        def thr(r: Double) = f"${math.round(r * 0xFFFFFFFFL)}%08x"
        s"""SELECT doc_id, source FROM documents
           |WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 8) <
           |  CASE source WHEN 'src0' THEN '${thr(0.5)}'
           |    WHEN 'src1' THEN '${thr(0.25)}' ELSE '${thr(0.1)}' END
           |ORDER BY doc_id""".stripMargin
      }),

    // Temperature-based mixture sampling (α=0.5): per-lang keep rates
    // derived from the observed stratum counts in the same query (rare
    // langs keep a larger share, the dominant one is capped), applied
    // through the engine-independent md5 draw. Every arithmetic step is
    // a correctly-rounded IEEE primitive, so DuckDB derives the
    // identical thresholds from its own counts and reproduces the
    // sampled set row for row.
    QueryDef("text_mixture_sample",
      (spark, sf) => TextOps.temperatureMixSample(
          load(spark, sf, "documents"), "doc_id", "lang",
          scale = 3.0, salt = "mix7")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
      Some("""WITH n AS (SELECT lang, COUNT(*) c FROM documents GROUP BY lang),
             |r AS (SELECT lang, printf('%08x',
             |    CAST(round(LEAST(1.0, 3.0/sqrt(c)) * 4294967295) AS BIGINT)) thr
             |  FROM n)
             |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
             |WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || 'mix7'), 1, 8) < thr
             |ORDER BY doc_id""".stripMargin)),

    // Epoch-mixture materialization — the REPLICATION half of dataset
    // mixing (sampling can only drop; a training mix also UP-samples
    // scarce sources across epochs): per-source factors expand each doc
    // into floor(f) copies + one more iff its md5 draw < frac(f), each
    // copy carrying its epoch index. No shuffle, no join — CASE +
    // explode(sequence) at scan speed; DuckDB replays the same md5
    // threshold and range() expansion row for row.
    QueryDef("text_mix_epochs",
      (spark, sf) => TextOps.epochExpand(
          load(spark, sf, "documents"), "doc_id", "source",
          factors = Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 0.0),
          defaultFactor = 1.25, salt = "mix9")
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch")),
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

    // Curriculum training order — a TOTAL global position (easy→hard by
    // length bucket, md5-shuffled within a bucket, id tiebreak) plus a
    // round-robin shard stripe, materialized WITHOUT the one-task
    // row_number window: range repartition + within-partition sort +
    // zipWithIndex (per-partition counts + driver prefix sum). DuckDB
    // replays the same total order with an actual window — small-scale
    // oracle for the scale-safe rank machinery.
    QueryDef("text_train_order",
      (spark, sf) => TextOps.trainOrder(
          load(spark, sf, "documents"), "doc_id",
          difficulty = expr("n_chars div 64"), numShards = 8, salt = "cur9")
        .select(col("doc_id"), col("bucket"), col("pos"), col("shard"))
        .orderBy(col("pos")),
      Some("""SELECT doc_id, bucket, pos, CAST(pos % 8 AS INT) AS shard FROM (
             |  SELECT doc_id, n_chars // 64 AS bucket,
             |    row_number() OVER (ORDER BY n_chars // 64,
             |      md5(CAST(doc_id AS VARCHAR) || 'cur9'), doc_id) - 1 AS pos
             |  FROM documents)
             |ORDER BY pos""".stripMargin)),

    // Quality-budget selection ("train on the best 20k tokens"): docs
    // kept in descending lexical-richness order while the inclusive
    // running token sum fits the budget. The order is total (score →
    // salted md5 → id), so DuckDB's actual window cumsum replays the
    // identical greedy prefix; the distributed side never funnels
    // through a one-task window (range repartition + per-partition
    // offsets, work ∝ kept prefix). Budget 20000 cuts ~28% at sf0.001
    // and ~99% at sf0.1 — non-trivial at every gate SF.
    QueryDef("text_budget_select",
      (spark, sf) => TextOps.budgetSelect(
          load(spark, sf, "documents"), "doc_id",
          score = size(array_distinct(split(col("text"), " "))).cast("long"),
          weight = TextOps.tokenCount(col("text")),
          budget = 20000L, salt = "bud9")
        .orderBy(col("doc_id")),
      Some("""WITH scored AS (
             |  SELECT doc_id,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS score,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |runs AS (
             |  SELECT doc_id, score, n_tokens,
             |    SUM(n_tokens) OVER (ORDER BY score DESC,
             |      md5(CAST(doc_id AS VARCHAR) || 'bud9'), doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
             |  FROM scored)
             |SELECT doc_id, score, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
             |FROM runs WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin)),

    // End-to-end corpus curation — the operators composed the way a
    // training-data pipeline actually chains them: quality gate (length
    // + lexical diversity) → language filter → exact-dedup survivors →
    // deterministic 50% sample. Every stage is SQL-expressible, so the
    // whole composition gets one oracle.
    // Corpus integrity audit: the docs↔embeddings consistency report a
    // multi-table pipeline needs BEFORE joining the two corpora —
    // missing embeddings, orphan embeddings, degenerate vectors
    // (zero-norm or NaN), wrong dimensionality. One full-outer join on
    // the id (single shuffle, single aggregate pass); every check is a
    // counting expression inside the same aggregate, so the audit costs
    // one scan of each table at any scale. Motivated concretely: at
    // sf0.1 documents outnumber embeddings, which silently broke a
    // modulo-derived probe set (see stream_hybrid_rrf) — this query is
    // the canary for that class of extent drift.
    QueryDef("corpus_integrity_audit",
      (spark, sf) => {
        val docs = load(spark, sf, "documents").select(col("doc_id"))
        val emb = load(spark, sf, "embeddings")
          .select(col("vec_id"), col("embedding"))
        docs.join(emb, docs("doc_id") === emb("vec_id"), "full_outer")
          .agg(
            count(col("doc_id")).as("n_docs"),
            count(col("vec_id")).as("n_embeddings"),
            sum(when(col("vec_id").isNull, 1L).otherwise(0L))
              .as("n_docs_missing_embedding"),
            sum(when(col("doc_id").isNull, 1L).otherwise(0L))
              .as("n_orphan_embeddings"),
            sum(when(col("vec_id").isNotNull &&
                (exists(col("embedding"), x => isnan(x)) ||
                  aggregate(col("embedding"), lit(0.0),
                    (a, x) => a + x * x) === 0.0), 1L).otherwise(0L))
              .as("n_zero_or_nan_vectors"),
            sum(when(col("vec_id").isNotNull && size(col("embedding")) =!= 64,
              1L).otherwise(0L)).as("n_wrong_dim"))
      },
      Some("""SELECT
             |  CAST(COUNT(d.doc_id) AS BIGINT) AS n_docs,
             |  CAST(COUNT(e.vec_id) AS BIGINT) AS n_embeddings,
             |  CAST(SUM(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_docs_missing_embedding,
             |  CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_orphan_embeddings,
             |  CAST(SUM(CASE WHEN e.vec_id IS NOT NULL AND (
             |      list_aggregate(list_transform(CAST(e.embedding AS DOUBLE[]),
             |        x -> CASE WHEN isnan(x) THEN 1 ELSE 0 END), 'sum') > 0
             |      OR list_dot_product(CAST(e.embedding AS DOUBLE[]),
             |                          CAST(e.embedding AS DOUBLE[])) = 0)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_or_nan_vectors,
             |  CAST(SUM(CASE WHEN e.vec_id IS NOT NULL AND len(e.embedding) <> 64
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim
             |FROM documents d FULL OUTER JOIN embeddings e
             |  ON d.doc_id = e.vec_id""".stripMargin)),

    QueryDef("corpus_curation",
      (spark, sf) => {
        val d = load(spark, sf, "documents")
        val quality = TextOps.qualityColumns(col("text")).toMap
        val filtered = d
          .withColumn("n_tokens", quality("n_tokens").cast("long"))
          .withColumn("ttr", quality("type_token_ratio"))
          .filter(col("n_tokens") >= 30 && col("ttr") >= 0.3)
          .filter(TextOps.langIdHeuristic(col("text")) === "en")
        val survivors = Dedup.exact(filtered, "text", "doc_id").select(col("doc_id"))
        filtered.join(survivors, Seq("doc_id"))
          .filter(TextOps.deterministicSample(col("doc_id"), 0.5, salt = "curate"))
          .select(col("doc_id"), col("source"), col("n_tokens"))
          .orderBy(col("doc_id"))
      },
      Some {
        val thr = f"${math.round(0.5 * 0xFFFFFFFFL)}%08x"
        s"""WITH q AS (
           |  SELECT doc_id, source, text,
           |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
           |    CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
           |      / len(string_split(text,' ')) AS ttr
           |  FROM documents),
           |f AS (
           |  SELECT * FROM q WHERE n_tokens >= 30 AND ttr >= 0.3
           |    AND (CASE
           |      WHEN regexp_matches(lower(text), '[一-鿿]') THEN 'zh'
           |      WHEN regexp_matches(lower(text), '[Ѐ-ӿ]') THEN 'ru'
           |      WHEN regexp_matches(lower(text), '[áéíóúñ¿¡]') THEN 'es'
           |      WHEN CAST(len(list_filter(string_split(lower(text),' '), t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE) / len(string_split(lower(text),' ')) > 0.02 THEN 'en'
           |      ELSE 'unknown' END) = 'en'),
           |s AS (
           |  SELECT *, ROW_NUMBER() OVER (
           |    PARTITION BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))
           |    ORDER BY doc_id) AS rn
           |  FROM f)
           |SELECT doc_id, source, n_tokens FROM s
           |WHERE rn = 1
           |  AND substr(md5(CAST(doc_id AS VARCHAR) || 'curate'), 1, 8) < '$thr'
           |ORDER BY doc_id""".stripMargin
      }),

    // Sequence packing into 512-token training bins: md5-sharded,
    // md5-ordered next-fit, so the assignment is engine- and
    // partitioning-independent and fully hash-oracled — the DuckDB
    // replay walks each shard's md5 order with a recursive CTE
    // carrying the (bin, used) fold state one row per step.
    QueryDef("text_pack_sequences",
      (spark, sf) => {
        val withTokens = load(spark, sf, "documents")
          .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        TextOps.packSequences(withTokens, "doc_id", "n_tokens", maxTokens = 512)
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE d AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             |    md5(CAST(doc_id AS VARCHAR) || 'pack') AS ord
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, n, ord,
             |    CAST(CAST('0x' || substr(ord, 1, 8) AS BIGINT) % 16 AS INT) AS shard
             |  FROM d),
             |s AS (
             |  SELECT doc_id, n, ord, shard,
             |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS rn
             |  FROM sh),
             |pack AS (
             |  SELECT shard, rn, doc_id, n, CAST(0 AS BIGINT) AS bin, n AS used
             |  FROM s WHERE rn = 1
             |  UNION ALL
             |  SELECT s.shard, s.rn, s.doc_id, s.n,
             |    CASE WHEN p.used + s.n > 512 THEN p.bin + 1 ELSE p.bin END,
             |    CASE WHEN p.used + s.n > 512 THEN s.n ELSE p.used + s.n END
             |  FROM pack p JOIN s ON s.shard = p.shard AND s.rn = p.rn + 1)
             |SELECT doc_id, shard * 4294967296 + bin AS bin_id, n AS doc_tokens
             |FROM pack ORDER BY doc_id""".stripMargin)),

    // Approximate distinct (HLL): sketch tier for 100 TB cardinalities.
    // Engines' HLL sketches differ, so the sketch value itself has no SQL
    // oracle — instead the gate runs both the sketch and the exact count,
    // asserts the sketch's error bound in-query (rsd=0.02, 5σ slack) and
    // emits the exact side, which DuckDB reproduces. A sketch regression
    // drops rows and flips the driver's rows/hash check (the same
    // bound-gate shape as the ANN recall gates).
    QueryDef("q_approx_distinct",
      (spark, sf) => load(spark, sf, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .filter(abs(col("approx_parts") - col("exact_parts"))
          <= col("exact_parts") * 0.1)
        .select(col("l_returnflag"), col("exact_parts"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Theta/KMV sketch set-INTERSECTION — the set operation HLL can't
    // do (HLL unions; intersection via inclusion-exclusion explodes the
    // error): estimate |parts bought by BUILDING ∩ parts bought by
    // MACHINERY| from the k=256 minimum xxhash64 values of the union,
    // counting how many of those k live in both sets. Each side's
    // distinct-part set reduces to ≤k hashes per partition before any
    // exchange (TakeOrdered, no global sort); the whole sketch state
    // that ever crosses the wire is k rows. Fewer than k distinct
    // values ⇒ the sketch degrades to exact (every hash kept) — the
    // sf0.001 regime, while sf0.01/0.1 genuinely estimate. Engines'
    // hash sketches aren't comparable, so the gate is the
    // q_approx_distinct shape: assert |est − exact| ≤ max(35%, 8)
    // in-query and emit the exact sides, which DuckDB reproduces.
    QueryDef("sketch_theta_intersect",
      (spark, sf) => {
        val k = 256
        val cust = load(spark, sf, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val ords = load(spark, sf, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val li = load(spark, sf, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
        def parts(seg: String) =
          li.join(ords, li("l_orderkey") === ords("o_orderkey"))
            .join(cust.filter(col("c_mktsegment") === seg),
              ords("o_custkey") === col("c_custkey"))
            .select(col("l_partkey")).distinct()
        val tagged = parts("BUILDING")
          .withColumn("in_a", lit(1)).withColumn("in_b", lit(0))
          .unionByName(parts("MACHINERY")
            .withColumn("in_a", lit(0)).withColumn("in_b", lit(1)))
          .groupBy(col("l_partkey"))
          .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
          .withColumn("h", xxhash64(col("l_partkey")))
        val kmin = tagged.orderBy(col("h")).limit(k)
        val stats = kmin.agg(
          count(lit(1)).as("n_kept"),
          sum(col("in_a") * col("in_b")).as("m_both"),
          max(col("h")).as("h_k"))
        val exact = tagged.agg(
          sum(col("in_a") * col("in_b")).cast("long").as("exact_common"),
          sum(col("in_a")).cast("long").as("exact_a"),
          sum(col("in_b")).cast("long").as("exact_b"))
        // u_k: the kth hash as a fraction of the signed-64 domain.
        stats.crossJoin(exact)
          .withColumn("u_k",
            (col("h_k").cast("double") + lit(9.223372036854776e18))
              / lit(1.8446744073709552e19))
          .withColumn("union_est",
            when(col("n_kept") < k, col("n_kept").cast("double"))
              .otherwise(lit((k - 1).toDouble) / col("u_k")))
          .withColumn("inter_est",
            col("m_both").cast("double") / col("n_kept") * col("union_est"))
          .filter(abs(col("inter_est") - col("exact_common")) <=
            greatest(col("exact_common") * 0.35, lit(8.0)))
          .select(col("exact_common"), col("exact_a"), col("exact_b"))
      },
      Some("""WITH seg AS (
             |  SELECT c.c_mktsegment seg, l.l_partkey p
             |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  JOIN customer c ON o.o_custkey = c.c_custkey
             |  WHERE c.c_mktsegment IN ('BUILDING','MACHINERY')),
             |a AS (SELECT DISTINCT p FROM seg WHERE seg = 'BUILDING'),
             |b AS (SELECT DISTINCT p FROM seg WHERE seg = 'MACHINERY')
             |SELECT
             |  CAST((SELECT COUNT(*) FROM a JOIN b USING (p)) AS BIGINT)
             |    AS exact_common,
             |  CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS exact_a,
             |  CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS exact_b""".stripMargin)),

    // MERGEABLE HLL sketches through the engine's Datasketches surface
    // (hll_sketch_agg / hll_union_agg / hll_sketch_estimate) — the
    // rollup story q_approx_distinct's scalar estimate can't tell:
    // per-day sketches are built once, then ANY coarser rollup (here
    // monthly) is a cheap sketch union, never a rescan of the raw data
    // — the pre-aggregation pattern that makes distinct-count dashboards
    // O(days × sketch) instead of O(data) per query. Gate: each merged
    // estimate must sit within 8% of the exact count (HLL lgK=12 is
    // ~1.6% RSE), or the month vanishes and the driver fails loudly;
    // the oracle replays the exact side.
    QueryDef("sketch_hll_merge",
      (spark, sf) => {
        val o = load(spark, sf, "orders")
          .select(trunc(col("o_orderdate"), "month").as("month"),
            to_date(col("o_orderdate")).as("day"), col("o_custkey"))
        val daily = o.groupBy(col("month"), col("day"))
          .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
        val monthly = daily.groupBy(col("month"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = o.groupBy(col("month"))
          .agg(countDistinct(col("o_custkey")).as("n_exact"))
        exact.join(monthly, Seq("month"))
          .filter(abs(col("est") - col("n_exact")) <=
            greatest(col("n_exact") * 0.08, lit(8.0)))
          .select(col("month"), col("n_exact"))
          .orderBy(col("month"))
      },
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
             |FROM orders GROUP BY 1 ORDER BY month""".stripMargin)),

    // Count-min sketch point counts (the third sketch tier next to HLL
    // cardinality and GK quantiles): fixed 4×1024 counter grid, merge =
    // element-wise add, so traffic is O(partitions) not O(distinct
    // tokens). Engines' sketches aren't comparable, so the gate shape is
    // the q_approx_distinct one: estimate the top-20 tokens' counts from
    // the sketch, assert the CM guarantee in-query (exact ≤ est ≤ exact
    // + 3εN, ε = e/width), and emit the exact side, which DuckDB
    // reproduces. The top-20 token list is the only thing collected —
    // bounded by construction, the IVF-centroid budget.
    QueryDef("text_countmin",
      (spark, sf) => {
        val exact = Shared.exactTokenCounts(spark, sf)
        val top = exact.orderBy(desc("exact_cnt"), col("tok")).limit(20)
        val words = top.collect().map(_.getString(0)).toSeq
        val ests = load(spark, sf, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .agg(graft.ops.Sketches.countMinUdaf(4, 1024, words)(col("tok")).as("ests"))
          .select(explode(col("ests")).as("e"))
          .select(col("e._1").as("tok"), col("e._2").as("est_cnt"))
        Shared.countMinGate(exact, top, ests, width = 1024)
      },
      Some(Shared.CountMinOracle)),

    // Out-of-vocabulary rate per source against a top-V vocabulary —
    // the tokenizer-ablation report (what fraction of each source's
    // tokens would map to <unk> under a size-V vocab). Vocab = top-16
    // tokens by (count DESC, token), a deterministic total order in
    // both engines; vocab is driver-bounded (TakeOrdered over the
    // shared token-count layout) and broadcast into the scan-side
    // membership probe, so the only shuffle is the per-source
    // aggregate. oov_rate is one exact-integer division.
    QueryDef("text_oov_rate",
      (spark, sf) => {
        val toks = load(spark, sf, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        val vocab = Shared.exactTokenCounts(spark, sf)
          .orderBy(desc("exact_cnt"), col("tok")).limit(16)
          .select(col("tok"), lit(1).as("__in"))
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("__in").isNull, 1L).otherwise(0L)).as("oov_tokens"))
          .withColumn("oov_rate", col("oov_tokens").cast("double") / col("n_tokens"))
          .orderBy(col("source"))
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

    // Per-document top terms by the integer tf-idf surrogate (tf DESC,
    // df ASC, term ASC): "most frequent rare term" ranks exactly like
    // tf·idf without a float in sight, so the oracle is exact — and the
    // grouped ranking runs through the engine's own TopKPerKey physical
    // operator (bounded heaps before the exchange, no per-doc window
    // sort). One tf aggregation, one broadcast-friendly df join.
    QueryDef("text_top_terms",
      (spark, sf) => {
        val toks = load(spark, sf, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val dfreq = toks.select(col("doc_id"), col("term")).distinct()
          .groupBy(col("term")).agg(count(lit(1)).as("df"))
        graft.plans.GroupedTopK(
            tf.join(dfreq, Seq("term")),
            keys = Seq("doc_id"),
            orderBy = Seq(("tf", false), ("df", true), ("term", true)), k = 3)
          .select(col("doc_id"), col("term"), col("tf"), col("df"))
          .orderBy(col("doc_id"), desc("tf"), col("df"), col("term"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
             |       FROM toks GROUP BY doc_id, term),
             |dfreq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
             |          FROM toks GROUP BY term),
             |ranked AS (
             |  SELECT doc_id, term, tf, df, ROW_NUMBER() OVER (
             |    PARTITION BY doc_id ORDER BY tf DESC, df, term) AS rn
             |  FROM tf JOIN dfreq USING (term))
             |SELECT doc_id, term, tf, df FROM ranked WHERE rn <= 3
             |ORDER BY doc_id, tf DESC, df, term""".stripMargin)),

    // Corpus-level boilerplate detection: a 3-token shingle's document
    // frequency marks it as template text (nav bars, license headers);
    // each doc reports how much of its distinct-shingle mass is
    // boilerplate. Single-pass shape: the df is an unordered window
    // count over the shingle key — ONE shingle-keyed shuffle and one
    // computation of the (exploded) shingle table, where the textbook
    // agg-then-join-back both recomputes the explode and shuffles it
    // twice. Integer counts only, so the oracle is exact.
    QueryDef("text_boilerplate",
      (spark, sf) => {
        val sh = Dedup.shingleTable(load(spark, sf, "documents"), "text", "doc_id", 3)
        sh.withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("df") >= 10, 1L).otherwise(0L)).as("n_boiler"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
             |idx AS (SELECT doc_id, unnest(range(len(t) - 2)) i, t
             |        FROM toks WHERE len(t) >= 3),
             |w AS (SELECT DISTINCT doc_id,
             |        list_aggregate(t[i+1:i+3], 'string_agg', ' ') s FROM idx),
             |dfc AS (SELECT s, COUNT(*) AS df FROM w GROUP BY s)
             |SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
             |  CAST(SUM(CASE WHEN dfc.df >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
             |FROM w JOIN dfc USING (s)
             |GROUP BY w.doc_id ORDER BY doc_id""".stripMargin)),

    // Deterministic training-shard assignment: every doc lands in one of
    // 16 shards via an engine-independent md5 digit, and the gate emits
    // the per-shard manifest (sizes, token mass, id range) a shard
    // writer would publish. Reproducible placement is the point: shard
    // 11 re-materialized next week contains byte-identical documents.
    QueryDef("text_shard_assign",
      (spark, sf) => load(spark, sf, "documents")
        .select(TextOps.hexShard(col("doc_id"), salt = "shards").as("shard"),
          col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("shard")),
      Some("""SELECT CAST(strpos('0123456789abcdef',
             |    substr(md5(CAST(doc_id AS VARCHAR) || 'shards'), 8, 1)) - 1 AS INT) AS shard,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
             |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
             |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin)),

    // Multimodal payload plumbing: opaque binary + typed metadata.
    QueryDef("mm_payload_meta",
      (spark, sf) => {
        val d = Multimodal.asPayload(load(spark, sf, "documents"), "text", "text")
        d.groupBy(col("source"))
          .agg(count(lit(1)).as("n_payloads"),
            sum(col("meta.byte_len")).as("total_bytes"),
            countDistinct(col("meta.content_hash")).as("distinct_hashes"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, COUNT(*) AS n_payloads,
             |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
             |  COUNT(DISTINCT md5(text)) AS distinct_hashes
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // Multimodal feature extraction: REAL image decode (JDK ImageIO)
    // behind partition-parallel plumbing. The fixtures are genuine PNG
    // bytes encoded executor-side with closed-form dimensions and a
    // solid-gray fill (`Multimodal.syntheticPng`), so the DuckDB oracle —
    // which has no image codec — verifies the decoded width/height/
    // channels/mean-pixel against the generating formulas.
    QueryDef("mm_feature_extract",
      (spark, sf) => {
        val d = Multimodal.syntheticImages(
          load(spark, sf, "documents").select(col("doc_id")), "doc_id")
        Multimodal.extractFeatures(d, "doc_id").orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, CAST(8 + doc_id % 13 AS INT) AS width,
             |  CAST(8 + doc_id % 7 AS INT) AS height, 3 AS channels,
             |  CAST(doc_id % 256 AS DOUBLE) AS feature_norm
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Image perceptual hashing (64-bit average hash): decode through the
    // real JDK codec, 8×8 nearest-neighbor downsample, threshold against
    // the exact block mean — the image-dedup fingerprint. Gradient
    // fixtures give the hash real bit structure; the oracle recomputes
    // every sampled pixel from the generating formula (same floor-index
    // mapping) with integer-exact arithmetic, the hash emitted as two
    // unsigned 32-bit halves so SQL never touches bit 63's sign.
    QueryDef("mm_image_ahash",
      (spark, sf) => {
        val d = Multimodal.syntheticGradientImages(
          load(spark, sf, "documents").select(col("doc_id")), "doc_id")
        Multimodal.imageHashes(d, "doc_id").orderBy(col("doc_id"))
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

    // Transform-domain perceptual hash (pHash family) through the real
    // JDK decode path: 8×8 grid → 63 non-DC Walsh–Hadamard coefficients
    // → sign bits. The ±1 basis keeps the whole transform in exact
    // integer arithmetic (a cosine pHash would put a float threshold on
    // every bit), so the oracle replays decode-downsample-transform
    // from the generating formula with bit_count arithmetic.
    QueryDef("mm_image_whash",
      (spark, sf) => {
        val d = Multimodal.syntheticGradientImages(
          load(spark, sf, "documents").select(col("doc_id")), "doc_id")
        Multimodal.walshHashes(d, "doc_id").orderBy(col("doc_id"))
      },
      Some("""WITH g AS (
             |  SELECT d.doc_id, y*8 + x AS idx,
             |    (d.doc_id + 7*((x*(8 + d.doc_id%13))//8)
             |       + 13*((y*(8 + d.doc_id%7))//8)) % 256 AS v
             |  FROM documents d, range(8) r1(x), range(8) r2(y)),
             |c AS (
             |  SELECT g.doc_id, u.u,
             |    SUM(v * (1 - 2*(bit_count(idx & u.u) % 2))) AS coef
             |  FROM g, range(1, 64) u(u) GROUP BY g.doc_id, u.u)
             |SELECT doc_id,
             |  CAST(SUM(CASE WHEN coef > 0 AND u >= 32
             |    THEN (CAST(1 AS BIGINT) << (u - 32)) ELSE 0 END) AS BIGINT) AS whash_hi,
             |  CAST(SUM(CASE WHEN coef > 0 AND u < 32
             |    THEN (CAST(1 AS BIGINT) << u) ELSE 0 END) AS BIGINT) AS whash_lo
             |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Video-shaped frame sampling over a REAL multi-frame codec: the JDK
    // ships no MP4 decoder, but its GIF reader is a genuine animated
    // container codec — synthetic multi-frame GIFs round-trip exactly
    // (palette, constant frames), so strided frame extraction runs
    // decode-for-real with closed-form per-frame oracles, upgrading the
    // last synthetic-only modality to a real codec path.
    QueryDef("mm_gif_frames",
      (spark, sf) => {
        val d = Multimodal.syntheticVideos(
          load(spark, sf, "documents").filter(col("doc_id") % 3 === 0)
            .select(col("doc_id")), "doc_id")
        Multimodal.gifFrameSample(d, "doc_id", stride = 2)
          .orderBy(col("doc_id"), col("frame_idx"))
      },
      Some("""SELECT d.doc_id, CAST(f AS INT) AS frame_idx, 8 AS width, 8 AS height,
             |  CAST((d.doc_id*17 + f*40) % 256 AS DOUBLE) AS mean_pixel
             |FROM documents d, range(6) r(f)
             |WHERE d.doc_id % 3 = 0 AND f < 2 + d.doc_id % 4 AND f % 2 = 0
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // Fixed-N-per-class deterministic sampling ("give me 20 examples
    // from every source"): the md5 draw defines an engine-independent
    // total order inside each class and the engine's bounded-heap
    // TopKPerKey takes the first 20 — partial heaps before the
    // exchange, never a per-class window sort. The eval-set builder's
    // sampling primitive.
    QueryDef("text_per_source_sample",
      (spark, sf) => graft.plans.GroupedTopK(
          load(spark, sf, "documents")
            .select(col("doc_id"), col("source"),
              md5(concat(col("doc_id").cast("string"), lit("ps1"))).as("draw")),
          keys = Seq("source"),
          orderBy = Seq(("draw", true), ("doc_id", true)),
          k = 20)
        .select(col("source"), col("doc_id"), col("draw"))
        .orderBy(col("source"), col("draw"), col("doc_id")),
      Some("""SELECT source, doc_id, draw FROM (
             |  SELECT source, doc_id,
             |    md5(CAST(doc_id AS VARCHAR) || 'ps1') AS draw,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'ps1'), doc_id) AS rn
             |  FROM documents) t
             |WHERE rn <= 20 ORDER BY source, draw, doc_id""".stripMargin)),

    // Scene-cut detection over the real animated-GIF codec: decode
    // every frame, diff consecutive frame means per video (lag window
    // keyed on the video id), count jumps ≥ 64 gray levels — the shot-
    // boundary step of a video curation pipeline. The 40-per-frame
    // gray ramp wraps mod 256, so cuts are exactly the wrap frames and
    // the oracle replays decode + lag from the generating formula.
    QueryDef("mm_scene_cuts",
      (spark, sf) => {
        val d = Multimodal.syntheticVideos(
          load(spark, sf, "documents").filter(col("doc_id") % 3 === 1)
            .select(col("doc_id")), "doc_id")
        val frames = Multimodal.gifFrameSample(d, "doc_id", stride = 1)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
        frames.withColumn("prev", lag(col("mean_pixel"), 1).over(w))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_frames"),
            sum(when(abs(col("mean_pixel") - col("prev")) >= 64, 1L)
              .otherwise(0L)).as("n_cuts"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH fr AS (
             |  SELECT d.doc_id, f, CAST((d.doc_id*17 + f*40) % 256 AS DOUBLE) v
             |  FROM documents d, range(6) r(f)
             |  WHERE d.doc_id % 3 = 1 AND f < 2 + d.doc_id % 4),
             |dif AS (SELECT doc_id, v,
             |    LAG(v) OVER (PARTITION BY doc_id ORDER BY f) pv FROM fr)
             |SELECT doc_id, COUNT(*) AS n_frames,
             |  COUNT(*) FILTER (WHERE pv IS NOT NULL AND ABS(v - pv) >= 64)
             |    AS n_cuts
             |FROM dif GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Multimodal resize: decode → nearest-neighbor rescale → PNG
    // re-encode, then re-decode and measure. Constant-fill fixtures make
    // the round-trip SQL-verifiable: dimensions become the target, the
    // mean pixel value survives nearest-neighbor resampling exactly.
    QueryDef("mm_resize",
      (spark, sf) => {
        val d = Multimodal.syntheticImages(
          load(spark, sf, "documents").select(col("doc_id")), "doc_id")
        val resized = Multimodal.resize(d, "doc_id", targetW = 96, targetH = 96)
        Multimodal.extractFeatures(resized, "doc_id").orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, 96 AS width, 96 AS height, 3 AS channels,
             |  CAST(doc_id % 256 AS DOUBLE) AS feature_norm
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Multimodal audio feature extraction: REAL WAV/PCM decode (JDK
    // javax.sound.sampled) over synthetic constant-amplitude fixtures
    // whose decoded header fields and mean amplitude are closed-form in
    // the id — the audio twin of mm_feature_extract.
    QueryDef("mm_audio_features",
      (spark, sf) => {
        val d = Multimodal.syntheticAudio(
          load(spark, sf, "documents").select(col("doc_id")), "doc_id")
        Multimodal.extractAudioFeatures(d, "doc_id").orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, 8000 AS sample_rate, 1 AS channels,
             |  CAST(1000 + doc_id % 512 AS BIGINT) AS n_samples,
             |  CAST(doc_id % 1000 AS DOUBLE) AS mean_abs_amplitude
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Image near-dup pairs over the REAL decoded aHash: 4×16-bit banded
    // candidate join (pigeonhole-lossless for Hamming ≤ 3) + exact XOR
    // popcount verify — multimodal dedup as a first-class pair miner,
    // not just a fingerprint column. The oracle recomputes every hash
    // from the gradient formula and pairs by brute force, so BOTH the
    // band completeness and the popcount verify are driver-checked.
    QueryDef("mm_image_dedup",
      (spark, sf) => {
        val d = Multimodal.syntheticGradientImages(
          load(spark, sf, "documents").select(col("doc_id")), "doc_id")
        Multimodal.nearDuplicateImages(d, "doc_id")
          .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH g AS (
             |  SELECT d.doc_id, y*8 + x AS idx,
             |    (d.doc_id + 7*((x*(8 + d.doc_id%13))//8)
             |       + 13*((y*(8 + d.doc_id%7))//8)) % 256 AS v
             |  FROM documents d, range(8) r1(x), range(8) r2(y)),
             |m AS (SELECT doc_id, SUM(v)/64.0 mean FROM g GROUP BY doc_id),
             |h AS (SELECT g.doc_id,
             |  CAST(SUM(CASE WHEN v > mean AND idx >= 32 THEN power(2, idx-32) ELSE 0 END) AS BIGINT) AS hi,
             |  CAST(SUM(CASE WHEN v > mean AND idx < 32 THEN power(2, idx) ELSE 0 END) AS BIGINT) AS lo
             |  FROM g JOIN m USING (doc_id) GROUP BY g.doc_id)
             |SELECT p.doc_id AS a, q.doc_id AS b,
             |  CAST(bit_count(xor(p.hi, q.hi)) + bit_count(xor(p.lo, q.lo)) AS INT) AS hamming
             |FROM h p JOIN h q ON p.doc_id < q.doc_id
             |WHERE bit_count(xor(p.hi, q.hi)) + bit_count(xor(p.lo, q.lo)) <= 3
             |ORDER BY a, b""".stripMargin),
      bench = true),

    // Energy-based voice-activity detection over real WAV bytes — the
    // speech-data curation gate (keep clips with enough voiced audio):
    // 20 ms frames, mean-|amplitude| threshold, per-clip voiced ratio in
    // integer permille. The fixture's 2-voiced/1-silent cadence has
    // closed-form frame energies, so the decode→frame→threshold verdict
    // is replayed exactly by modular arithmetic in the oracle: silent
    // frames are those with (doc_id + f) ≡ 0 (mod 3), i.e.
    // floor((nf−1−r)/3)+1 of nf frames where r = (−doc_id) mod 3.
    QueryDef("mm_audio_vad",
      (spark, sf) => {
        val d = Multimodal.syntheticSpeech(
          load(spark, sf, "documents").select(col("doc_id")), "doc_id")
        Multimodal.vad(d, "doc_id").orderBy(col("doc_id"))
      },
      Some("""WITH p AS (
             |  SELECT doc_id, 24 + doc_id % 13 AS nf, (3 - doc_id % 3) % 3 AS r
             |  FROM documents),
             |s AS (SELECT doc_id, nf, (nf - 1 - r) // 3 + 1 AS silent FROM p)
             |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
             |  CAST(nf - silent AS BIGINT) AS voiced_frames,
             |  CAST((1000 * (nf - silent)) // nf AS BIGINT) AS voiced_permille
             |FROM s ORDER BY doc_id""".stripMargin)),

    // Audio fingerprint matching (the Shazam constellation shape):
    // every document is a melody "track" (real WAV bytes through the
    // JDK codec, notes in closed form), a 2% probe set of 8-frame
    // CLIPS excerpts its track at a per-clip offset, and matching is
    // landmark hashing — (note₁, note₂, Δt) pairs — joined clip→index
    // with OFFSET-CONSISTENT voting: the winning (track, t_track −
    // t_clip) cell is the identification. The vote argmax runs through
    // the bounded-heap grouped-top-k. Scale shape: the landmark index
    // is one decode scan (linear in audio hours); the clip side is
    // probe-sized and travels by broadcast into the hash join; votes
    // aggregate on (clip, track, offset) — never an all-pairs audio
    // comparison. The oracle replays decode, landmarks, voting and the
    // argmax entirely from the closed-form note formula.
    QueryDef("mm_audio_fingerprint",
      (spark, sf) => {
        val docs = load(spark, sf, "documents").select(col("doc_id"))
        val index = Multimodal.audioLandmarks(
            Multimodal.syntheticMelodies(docs, "doc_id"), "doc_id")
          .select(col("doc_id").as("track_id"), col("t").as("tt"), col("h"))
        val clipLand = Multimodal.audioLandmarks(
            Multimodal.syntheticMelodyClips(
              docs.filter(col("doc_id") % 50 === 3), "doc_id"), "doc_id")
          .select(col("doc_id").as("clip_id"), col("t").as("ct"), col("h"))
        val votes = index.join(broadcast(clipLand), Seq("h"))
          .groupBy(col("clip_id"), col("track_id"),
            (col("tt") - col("ct")).as("t_offset"))
          .agg(count(lit(1)).as("votes"))
        graft.plans.GroupedTopK(votes, Seq("clip_id"),
            Seq(("votes", false), ("track_id", true), ("t_offset", true)), 1)
          .select(col("clip_id"), col("track_id"),
            col("t_offset").cast("int").as("t_offset"), col("votes"))
          .orderBy(col("clip_id"))
      },
      Some("""WITH tr AS (
             |  SELECT doc_id AS track_id, f,
             |    (doc_id*7 + f*f*13 + (doc_id%31)*f) % 8000 AS note
             |  FROM documents, range(25) r(f)
             |  WHERE f < 20 + doc_id % 5),
             |tl AS (
             |  SELECT a.track_id, a.f AS tt,
             |    a.note * 24000 + b.note * 3 + (b.f - a.f - 1) AS h
             |  FROM tr a JOIN tr b ON a.track_id = b.track_id
             |    AND b.f - a.f BETWEEN 1 AND 3),
             |cn AS (
             |  SELECT doc_id AS clip_id, g,
             |    (doc_id*7 + (doc_id%8+g)*(doc_id%8+g)*13
             |      + (doc_id%31)*(doc_id%8+g)) % 8000 AS note
             |  FROM documents, range(8) r(g)
             |  WHERE doc_id % 50 = 3),
             |cl AS (
             |  SELECT a.clip_id, a.g AS ct,
             |    a.note * 24000 + b.note * 3 + (b.g - a.g - 1) AS h
             |  FROM cn a JOIN cn b ON a.clip_id = b.clip_id
             |    AND b.g - a.g BETWEEN 1 AND 3),
             |v AS (
             |  SELECT c.clip_id, t.track_id, t.tt - c.ct AS t_offset,
             |    COUNT(*) AS votes
             |  FROM cl c JOIN tl t USING (h) GROUP BY 1, 2, 3),
             |best AS (
             |  SELECT * FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY clip_id
             |      ORDER BY votes DESC, track_id, t_offset) rn FROM v)
             |  WHERE rn = 1)
             |SELECT clip_id, track_id, CAST(t_offset AS INT) AS t_offset,
             |  CAST(votes AS BIGINT) AS votes
             |FROM best ORDER BY clip_id""".stripMargin)),

    // Multimodal frame sampling: one video row → n frame rows with
    // deterministic frame offsets (stub duration = payload_bytes/8
    // frames) — the row-exploding decode shape. Frame timing arithmetic
    // is integer-exact and reproduced in the oracle; frame bytes are
    // spec-tested.
    QueryDef("mm_frame_sample",
      (spark, sf) => {
        val d = Multimodal.asPayload(
          load(spark, sf, "documents").select(col("doc_id"), col("text")), "text", "video")
        Multimodal.frameSample(d, "doc_id", nFrames = 4)
          .select(col("doc_id"), col("frame_idx"), col("frame_ms"))
          .orderBy(col("doc_id"), col("frame_idx"))
      },
      Some("""SELECT doc_id, CAST(i AS INT) AS frame_idx,
             |  CAST(FLOOR(i * (GREATEST(4, octet_length(encode(text)) // 8) // 4)
             |    * 1000 / 30.0) AS BIGINT) AS frame_ms
             |FROM documents, UNNEST(range(4)) AS t(i)
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // Hybrid retrieval with reciprocal-rank fusion (RRF, k=60): a
    // lexical idf-overlap ranker and an exact-cosine embedding ranker,
    // each per-probe top-20 through the bounded-heap grouped-top-k
    // operator, fused into a top-10 list per probe. Probe set = every
    // 100th document — the serving/eval shape where probes ≪ corpus and
    // everything probe-sized travels by broadcast (see ops.Retrieval
    // scaladoc for the 100 TB economics). Fully oracled: both rankers
    // order by 6-dp-rounded scores with doc-id tie-breaks, and the RRF
    // sum of two reciprocals is order-independent IEEE addition, so
    // DuckDB replays ranks and fused scores exactly.
    QueryDef("text_hybrid_rrf",
      (spark, sf) => {
        // shared persisted fusion (r22): identical hybridRrf lineage in
        // stream_hybrid_rrf's parity twin — see RetrievalLayouts
        RetrievalLayouts.hybridFused(spark, sf)
          .orderBy(col("probe_id"), col("fused_rank"))
      },
      Some(Shared.HybridRrfOracle)),

    // Per-probe BM25 (tf saturation k1=1.2, length normalization
    // b=0.75): the dynamic-query sibling of text_bm25's fixed term set
    // — every probe document's term set is the query, top-20 per probe
    // through the bounded-heap grouped-top-k. Corpus tokens survive the
    // scan only if they match a broadcast probe term; df/dl stats and
    // probe terms broadcast. Same 6-dp rank-key discipline as the RRF
    // tier, so the oracle replays ranks exactly.
    // Exact phrase search over positional trigrams — the inverted-index
    // operation bag-of-words BM25 cannot express (order matters): each
    // probe's opening 3-word phrase must match three ADJACENT corpus
    // positions. Adjacency is pre-joined into a positional trigram at
    // the scan (sequence/slice expressions, no shuffle, positions kept
    // exact — no filtered-array drift), and the tiny phrase table
    // broadcasts, so the whole query is one scan + one broadcast join +
    // one (probe, doc) aggregation. Emits occurrence counts and the
    // first match position — all integers, fully hash-oracled.
    QueryDef("text_phrase_search",
      (spark, sf) => {
        val docs = load(spark, sf, "documents")
        val probes = load(spark, sf, "embeddings")
          .select(col("vec_id").as("probe_id"))
          .filter(col("probe_id") % 100 === 7 && col("probe_id") < 2000)
        val grams = docs
          .filter(size(split(col("text"), " ")) >= 3)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(0, size(split(text, ' ')) - 3),
              |  i -> struct(i AS pos,
              |    concat_ws(' ', slice(split(text, ' '), i + 1, 3)) AS g))"""
              .stripMargin)).as("s"))
          .select(col("doc_id"), col("s.pos").as("pos"), col("s.g").as("g"))
        val phrases = docs
          .join(broadcast(probes), col("doc_id") === col("probe_id"))
          .filter(size(split(col("text"), " ")) >= 3)
          .select(col("probe_id"),
            concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("phrase"))
        grams.join(broadcast(phrases),
            col("g") === col("phrase") && col("doc_id") =!= col("probe_id"))
          .groupBy(col("probe_id"), col("doc_id"))
          .agg(count(lit(1)).as("n_occ"), min(col("pos")).cast("long").as("first_pos"))
          .orderBy(col("probe_id"), col("doc_id"))
      },
      Some("""WITH probes AS (SELECT vec_id probe_id FROM embeddings
             |  WHERE vec_id % 100 = 7 AND vec_id < 2000),
             |toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
             |phr AS (SELECT probe_id, list_aggregate(t[1:3], 'string_agg', ' ') phrase
             |  FROM toks JOIN probes ON doc_id = probe_id WHERE len(t) >= 3),
             |sh AS (SELECT doc_id, unnest(range(len(t) - 2)) i, t
             |  FROM toks WHERE len(t) >= 3),
             |grams AS (SELECT doc_id, i,
             |  list_aggregate(t[i+1:i+3], 'string_agg', ' ') g FROM sh)
             |SELECT p.probe_id, g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ,
             |  CAST(MIN(i) AS BIGINT) AS first_pos
             |FROM grams g JOIN phr p ON g.g = p.phrase AND g.doc_id <> p.probe_id
             |GROUP BY p.probe_id, g.doc_id
             |ORDER BY probe_id, doc_id""".stripMargin)),

    QueryDef("text_probe_bm25",
      (spark, sf) => {
        // shared persisted ranking (r22): the identical bm25TopK lineage
        // was re-executed by five consumers per run — see RetrievalLayouts
        RetrievalLayouts.bm25Top20(spark, sf)
          .select(col("probe_id"), col("r").cast("int").as("r"),
            col("doc_id"), col("score"))
          .orderBy(col("probe_id"), col("r"))
      },
      Some(Shared.ProbeBm25Oracle)),

    // MMR-diversified retrieval: the verified per-probe BM25 top-20 is
    // greedily re-ranked to 5 results per probe by Maximal Marginal
    // Relevance (0.7·relevance − 0.3·max-Jaccard-to-already-selected) —
    // the serving pass that stops a result page or RAG context from
    // being five near-copies. Relevance is the probe-normalized
    // 6-dp-rounded BM25 score; diversity is exact-integer term-set
    // Jaccard between CANDIDATES (never doc×doc): one scan of the
    // impact index against the broadcast top-20 feeds one group per
    // probe, whose ≤ 20 term sets give the pair similarities inside the
    // greedy loop. The oracle unrolls the 5 greedy steps
    // as materialized CTEs with correlated max-sim subqueries — every
    // selection argmax replayed exactly (identical literal weights
    // both engines: 1 − 0.7 ≠ 0.3 in IEEE, so 0.3 is spelled, not
    // derived).
    QueryDef("text_mmr_diversify",
      (spark, sf) => {
        val cands = RetrievalLayouts.bm25Top20(spark, sf)
          .select(col("probe_id"), col("doc_id"), col("score"))
        // the impact index holds exactly one row per (term, doc) — it IS
        // the distinct terms table (r22, RetrievalLayouts)
        val docTerms = RetrievalLayouts.bm25ImpactIndex(spark, sf)
          .select(col("doc_id"), col("term"))
        graft.ops.Retrieval.mmrDiversify(cands, docTerms)
          .select(col("probe_id"), col("sel_rank"), col("doc_id"),
            round(col("mmr"), 6).as("mmr"))
          .orderBy(col("probe_id"), col("sel_rank"))
      },
      Some {
        def step(k: Int) =
          s"""cand$k AS (
             |  SELECT c.probe_id, c.doc_id, c.rel FROM rel c
             |  WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} s
             |    WHERE s.probe_id = c.probe_id AND s.doc_id = c.doc_id)),
             |m$k AS (
             |  SELECT c.probe_id, c.doc_id,
             |    0.7 * c.rel - 0.3 * COALESCE((
             |      SELECT MAX(s.sim) FROM sims s JOIN sel${k - 1} d
             |        ON d.probe_id = s.probe_id AND s.xb = d.doc_id
             |      WHERE s.probe_id = c.probe_id AND s.xa = c.doc_id), 0) AS mmr
             |  FROM cand$k c),
             |sel$k AS MATERIALIZED (
             |  SELECT * FROM sel${k - 1}
             |  UNION ALL
             |  SELECT probe_id, $k AS sel_rank, doc_id, mmr FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
             |      ORDER BY mmr DESC, doc_id) rn FROM m$k) WHERE rn = 1)""".stripMargin
        s"""${Shared.ProbeBm25ScoredCtes},
           |top AS MATERIALIZED (
           |  SELECT probe_id, doc_id, score FROM (
           |    SELECT probe_id, doc_id, score, ROW_NUMBER() OVER (
           |      PARTITION BY probe_id ORDER BY score DESC, doc_id) r
           |    FROM scored) WHERE r <= 20),
           |rel AS MATERIALIZED (
           |  SELECT probe_id, doc_id,
           |    score / MAX(score) OVER (PARTITION BY probe_id) AS rel
           |  FROM top),
           |cterm AS (
           |  SELECT DISTINCT t.probe_id, t.doc_id, x.term
           |  FROM top t JOIN (SELECT DISTINCT doc_id, term FROM terms) x
           |    USING (doc_id)),
           |sz AS (SELECT probe_id, doc_id, COUNT(*) sz FROM cterm GROUP BY 1, 2),
           |inter AS (
           |  SELECT a.probe_id, a.doc_id xa, b.doc_id xb, COUNT(*) ia
           |  FROM cterm a JOIN cterm b ON a.probe_id = b.probe_id
           |    AND a.term = b.term AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2, 3),
           |sims0 AS (
           |  SELECT i.probe_id, i.xa, i.xb,
           |    CAST(ia AS DOUBLE) / (sa.sz + sb.sz - ia) AS sim
           |  FROM inter i
           |    JOIN sz sa ON sa.probe_id = i.probe_id AND sa.doc_id = i.xa
           |    JOIN sz sb ON sb.probe_id = i.probe_id AND sb.doc_id = i.xb),
           |sims AS MATERIALIZED (
           |  SELECT probe_id, xa, xb, sim FROM sims0
           |  UNION ALL
           |  SELECT probe_id, xb, xa, sim FROM sims0),
           |sel1 AS MATERIALIZED (
           |  SELECT probe_id, 1 AS sel_rank, doc_id, 0.7 * rel AS mmr FROM (
           |    SELECT probe_id, doc_id, rel, ROW_NUMBER() OVER (
           |      PARTITION BY probe_id ORDER BY 0.7 * rel DESC, doc_id) rn
           |    FROM rel) WHERE rn = 1),
           |${(2 to 5).map(step).mkString(",\n")}
           |SELECT probe_id, sel_rank, doc_id, ROUND(mmr, 6) AS mmr
           |FROM sel5 ORDER BY probe_id, sel_rank""".stripMargin
      }),

    // Per-source token-distribution divergence: Jensen–Shannon between
    // each source's token distribution and the corpus reference — the
    // BATCH corpus-mix audit next to the streaming per-window KL drift
    // monitor (stream_drift_kl). All mass functions come from integer
    // counts; the only floats are the final per-term ratios, and the
    // scoring grid is (sources × vocab) — a bounded cross join of two
    // aggregate frames, constant in corpus size, never a per-row
    // cartesian. JS (unlike KL) is finite when a source is missing a
    // corpus token, which is exactly the drifted-source case the audit
    // exists to catch; 6-dp rounding is the drift-monitor discipline.
    QueryDef("text_source_js_div",
      (spark, sf) => {
        val perSrc = load(spark, sf, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
        val srcTot = perSrc.groupBy(col("source")).agg(sum(col("c")).as("n"))
        val corpus = perSrc.groupBy(col("tok")).agg(sum(col("c")).as("rc"))
        val tot = corpus.agg(sum(col("rc"))).first().getLong(0)
        srcTot.crossJoin(corpus)
          .join(perSrc, Seq("source", "tok"), "left")
          .na.fill(0L, Seq("c"))
          .withColumn("p", col("c").cast("double") / col("n"))
          .withColumn("q", col("rc").cast("double") / lit(tot.toDouble))
          .withColumn("m", (col("p") + col("q")) / 2)
          .withColumn("term",
            when(col("p") > 0, col("p") * log(col("p") / col("m")) * 0.5)
              .otherwise(lit(0.0))
              + col("q") * log(col("q") / col("m")) * 0.5)
          .groupBy(col("source"))
          .agg(max(col("n")).cast("long").as("n_tokens"),
            round(sum(col("term")), 6).as("js_div"))
          .orderBy(col("source"))
      },
      Some("""WITH t AS (SELECT source, unnest(string_split(text, ' ')) tok
             |  FROM documents),
             |ps AS (SELECT source, tok, COUNT(*) c FROM t GROUP BY 1, 2),
             |st AS (SELECT source, SUM(c) n FROM ps GROUP BY 1),
             |corp AS (SELECT tok, SUM(c) rc FROM ps GROUP BY 1),
             |tot AS (SELECT SUM(rc) tt FROM corp),
             |grid AS (SELECT st.source, st.n, corp.tok, corp.rc
             |         FROM st CROSS JOIN corp),
             |j AS (SELECT g.source, g.n, g.tok, g.rc, COALESCE(ps.c, 0) c
             |      FROM grid g LEFT JOIN ps
             |        ON ps.source = g.source AND ps.tok = g.tok),
             |terms AS (SELECT source, n,
             |    CAST(c AS DOUBLE) / n AS p,
             |    CAST(rc AS DOUBLE) / (SELECT tt FROM tot) AS q
             |  FROM j)
             |SELECT source, CAST(MAX(n) AS BIGINT) AS n_tokens,
             |  ROUND(SUM(CASE WHEN p > 0
             |        THEN 0.5 * p * LN(p / ((p + q) / 2)) ELSE 0 END
             |      + 0.5 * q * LN(q / ((p + q) / 2))), 6) AS js_div
             |FROM terms GROUP BY source ORDER BY source""".stripMargin)),

    // Gopher/MassiveText repetition rules (Rae et al. 2021 §A1.1), the
    // two the distinct-kgram ratio (text_repetition) can't express:
    // top-2-gram coverage (share of bigram slots taken by the single
    // most frequent bigram) and duplicate-2-gram coverage (share taken
    // by any bigram occurring more than once). Inverted-index shape:
    // explode bigrams -> count per (doc, gram) -> per-doc integer
    // summary — two linear shuffles, no self-join. The thresholds are
    // evaluated in PURE INTEGER cross-multiplication (5*maxc > n is
    // top-frac > 0.20; 10*dup > 3*n is dup-frac > 0.30), so the gate
    // has no float anywhere and replays engine-exact in the oracle.
    QueryDef("text_repetition_gate",
      (spark, sf) => {
        val docs = load(spark, sf, "documents")
        val perDoc = docs
          .select(col("doc_id"),
            explode(graft.ops.TextOps.shingles(col("text"), 2)).as("gram"))
          .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"), max(col("c")).as("maxc"),
            coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).as("dup"))
        docs.select(col("doc_id"), col("source"))
          .join(perDoc, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("maxc") * 5 > col("n"), 1).otherwise(0)).as("top_flagged"),
            sum(when(col("dup") * 10 > col("n") * 3, 1).otherwise(0)).as("dup_flagged"),
            sum(when(col("maxc") * 5 > col("n") or
              col("dup") * 10 > col("n") * 3, 1).otherwise(0)).as("any_flagged"))
          .orderBy(col("source"))
      },
      Some("""WITH t AS (SELECT doc_id, source, string_split(text, ' ') toks
             |  FROM documents),
             |g AS (SELECT doc_id,
             |    unnest(list_transform(range(1, len(toks)),
             |                          i -> toks[i] || ' ' || toks[i+1])) gram
             |  FROM t),
             |c AS (SELECT doc_id, gram, COUNT(*) c FROM g GROUP BY 1, 2),
             |d AS (SELECT doc_id, SUM(c) n, MAX(c) maxc,
             |    COALESCE(SUM(c) FILTER (c > 1), 0) dup
             |  FROM c GROUP BY 1)
             |SELECT t.source, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN maxc*5 > n THEN 1 ELSE 0 END) AS BIGINT)
             |    AS top_flagged,
             |  CAST(SUM(CASE WHEN dup*10 > n*3 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS dup_flagged,
             |  CAST(SUM(CASE WHEN maxc*5 > n OR dup*10 > n*3 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS any_flagged
             |FROM t LEFT JOIN d USING (doc_id)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // URL canonicalization — the first stage of every web-corpus
    // pipeline (CCNet/RefinedWeb dedup by canonical URL BEFORE content
    // dedup). The corpus ships no URL column, so both engines derive
    // the same synthetic crawl URL from doc_id (Shared.syntheticUrl /
    // Shared.UrlSql — cased schemes/hosts, default + non-default ports,
    // tracking params, trailing slashes, fragments) and the oracle
    // replays TextOps.canonicalizeUrl's regex pipeline step for step
    // (Shared.UrlCanonSql). Scan-speed per-row projection: no shuffle,
    // no UDF — at 100 TB this runs at parquet-read speed.
    // HTML main-content extraction over the synthetic crawl pages
    // (Shared.syntheticHtml): script/style/nav blocks dropped with
    // their contents, remaining tags stripped, whitespace collapsed;
    // href targets harvested from the FULL markup (the link graph keeps
    // nav edges the text extractor drops). Everything is one scan-stage
    // regexp chain — no shuffle at all until the final ORDER BY — and
    // every regex replays verbatim in the oracle, so the extraction is
    // hash-verified end to end (lengths, ratio, links, text prefix).
    QueryDef("text_html_extract",
      (spark, sf) => load(spark, sf, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          Shared.syntheticHtml(col("doc_id"), col("text")).as("html"))
        .select(col("doc_id"),
          TextOps.htmlBodyText(col("html")).as("clean"),
          TextOps.htmlLinks(col("html")).as("links"),
          length(col("html")).cast("long").as("len_html"))
        .select(col("doc_id"),
          size(col("links")).cast("long").as("n_links"),
          array_join(col("links"), " ").as("links"),
          length(col("clean")).cast("long").as("len_clean"),
          col("len_html"),
          round(length(col("clean")).cast("double") / col("len_html"), 6)
            .as("text_ratio"),
          substring(col("clean"), 1, 60).as("clean_prefix"))
        .orderBy(col("doc_id")),
      Some(s"""WITH pages AS (SELECT doc_id, ${Shared.HtmlSql} AS html
              |  FROM documents WHERE text IS NOT NULL),
              |x AS (SELECT doc_id, html,
              |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
              |    '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
              |    '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
              |    '(?s)<nav[^>]*>.*?</nav>', ' ', 'g'),
              |    '<[^>]+>', ' ', 'g'),
              |    '\\s+', ' ', 'g')) AS clean,
              |  regexp_extract_all(html, 'href="([^"]+)"', 1) AS l
              |  FROM pages)
              |SELECT doc_id, CAST(len(l) AS BIGINT) AS n_links,
              |  array_to_string(l, ' ') AS links,
              |  CAST(len(clean) AS BIGINT) AS len_clean,
              |  CAST(len(html) AS BIGINT) AS len_html,
              |  ROUND(CAST(len(clean) AS DOUBLE) / len(html), 6) AS text_ratio,
              |  substr(clean, 1, 60) AS clean_prefix
              |FROM x ORDER BY doc_id""".stripMargin)),

    QueryDef("text_url_canonicalize",
      (spark, sf) => load(spark, sf, "documents")
        .select(col("doc_id"), Shared.syntheticUrl(col("doc_id")).as("url"))
        .withColumn("canon_url", TextOps.canonicalizeUrl(col("url")))
        .orderBy(col("doc_id")),
      Some(s"""WITH urls AS (SELECT doc_id, ${Shared.UrlSql} AS url FROM documents),
              |c AS (${Shared.UrlCanonSql})
              |SELECT doc_id, url, canon AS canon_url FROM c
              |ORDER BY doc_id""".stripMargin)),

    // Per-host corpus profile over the canonical URLs — the host-level
    // rollup real crawls budget and gate on (host doc mass, distinct
    // pages after canonicalization, dup pressure, token mass feeding
    // the quality gates). One hash shuffle on the host key; token
    // counting rides the same scan.
    QueryDef("text_host_profile",
      (spark, sf) => {
        val docs = load(spark, sf, "documents")
          .select(col("doc_id"), col("text"),
            Shared.syntheticUrl(col("doc_id")).as("url"))
          .withColumn("canon_url", TextOps.canonicalizeUrl(col("url")))
          .withColumn("host", TextOps.urlHost(col("url")))
        docs.groupBy(col("host"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("canon_url")).as("n_pages"),
            (count(lit(1)) - countDistinct(col("canon_url"))).as("dup_docs"),
            sum(TextOps.tokenCount(col("text")).cast("long")).as("tok_total"))
          .withColumn("avg_toks",
            col("tok_total").cast("double") / col("n_docs"))
          .orderBy(col("host"))
      },
      Some(s"""WITH urls AS (
              |  SELECT doc_id, ${Shared.UrlSql} AS url FROM documents),
              |c AS (${Shared.UrlCanonSql}),
              |j AS (SELECT c.doc_id, c.url, c.canon,
              |    lower(regexp_replace(
              |      regexp_extract(c.url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?]*)', 1),
              |      ':[0-9]+$$', '')) AS host,
              |    len(string_split(d.text, ' ')) AS toks
              |  FROM c JOIN documents d USING (doc_id))
              |SELECT host, COUNT(*) AS n_docs,
              |  COUNT(DISTINCT canon) AS n_pages,
              |  COUNT(*) - COUNT(DISTINCT canon) AS dup_docs,
              |  CAST(SUM(toks) AS BIGINT) AS tok_total,
              |  CAST(SUM(toks) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_toks
              |FROM j GROUP BY host ORDER BY host""".stripMargin)),

    // Weighted sampling without replacement — priority sampling
    // (Duffield–Lund–Thorup): each document draws a deterministic
    // 48-bit uniform u from md5(doc_id) and competes with key
    // u div w (w = char length), so P(selected) scales with weight and
    // the bottom-k by (key, doc_id) IS the weighted sample — the
    // length-proportional pick a mixture builder wants when token
    // budget, not doc count, is the resource. Contrast: text_sample is
    // the UNIFORM hash sample; text_stratified/budget_select quota by
    // group — this one is weight-proportional at the item level.
    // Exact integer keys (truncating division agrees across engines),
    // ONE scan, and the global bottom-k is a TakeOrderedAndProject —
    // no global sort, no window, constant driver memory.
    QueryDef("text_priority_sample",
      (spark, sf) => load(spark, sf, "documents")
        .select(col("doc_id"),
          greatest(col("n_chars").cast("long"), lit(1L)).as("w"),
          expr("conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10)")
            .cast("long").as("u"))
        .select(col("doc_id"), col("w"), expr("u div w").as("pkey"))
        .orderBy(col("pkey"), col("doc_id"))
        .limit(200),
      Some("""SELECT doc_id, GREATEST(CAST(n_chars AS BIGINT), 1) AS w,
             |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
             |    // GREATEST(CAST(n_chars AS BIGINT), 1) AS pkey
             |FROM documents
             |ORDER BY pkey, doc_id LIMIT 200""".stripMargin)),

    // TextRank keyword extraction — the unsupervised keyword primitive
    // (Mihalcea & Tarau 2004): a PageRank fixpoint over the word
    // co-occurrence graph, composed from two tiers this engine already
    // verifies separately (scan-stage pair extraction + the exact
    // integer PageRank of ops/Graphs). Adjacent-token pairs (content
    // words: length ≥ 4, lowercased) are extracted as ONE array fold in
    // the scan stage — zip_with against the shifted array, no window,
    // no self-join — and the multiset of undirected edges feeds
    // [[graft.ops.Graphs.pageRankInt]], whose per-row `rank div
    // out_deg` contributions make edge MULTIPLICITY the edge weight, so
    // this is weighted TextRank in exact micro-units with a fully
    // unrolled SQL oracle (the q_pagerank discipline). TopK is a
    // TakeOrderedAndProject over (rank desc, term) — no global sort.
    // Scale: one corpus scan + the bounded vocabulary-sized fixpoint
    // (#nodes = distinct content words ≪ corpus).
    QueryDef("text_textrank_keywords",
      (spark, sf) => {
        val ranks = Layouts.memo(spark, sf, "textrank") {
          val pairs = load(spark, sf, "documents")
            .withColumn("arr", split(lower(col("text")), " "))
            .select(explode(expr(
              """filter(
                |  zip_with(arr, slice(arr, 2, size(arr)),
                |    (x, y) -> struct(x AS src, y AS dst)),
                |  p -> p.dst IS NOT NULL AND length(p.src) >= 4
                |    AND length(p.dst) >= 4 AND p.src <> p.dst)"""
                .stripMargin)).as("p"))
            .select(col("p.src").as("src"), col("p.dst").as("dst"))
          val und = pairs.unionByName(
            pairs.select(col("dst").as("src"), col("src").as("dst")))
          graft.ops.Graphs.pageRankInt(und, iters = 3)
        }
        ranks.select(col("node").as("term"), col("rank"))
          .orderBy(col("rank").desc, col("term"))
          .limit(20)
      },
      Some {
        def round(k: Int) =
          s"""r$k AS (
             |  SELECT n.node,
             |    CAST(150000 + (850000 * COALESCE(s.in_sum, 0)) // 1000000 AS BIGINT) AS rank
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst AS node, SUM(r.rank // d.out_deg) AS in_sum
             |    FROM e JOIN r${k - 1} r ON e.src = r.node
             |           JOIN deg d ON e.src = d.src
             |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
        s"""WITH toks AS (
           |  SELECT string_split(lower(text), ' ') AS arr FROM documents),
           |p0 AS (
           |  SELECT unnest(list_filter(
           |    list_transform(generate_series(1, len(arr) - 1),
           |      i -> {'src': arr[i], 'dst': arr[i + 1]}),
           |    p -> len(p.src) >= 4 AND len(p.dst) >= 4
           |      AND p.src <> p.dst)) AS p
           |  FROM toks),
           |pairs AS (SELECT p.src AS src, p.dst AS dst FROM p0),
           |e AS (SELECT src, dst FROM pairs
           |      UNION ALL SELECT dst, src FROM pairs),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
           |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
           |${round(1)},
           |${round(2)},
           |${round(3)}
           |SELECT node AS term, rank FROM r3
           |ORDER BY rank DESC, term LIMIT 20""".stripMargin
      }),
  )
}
