package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Pieces shared by a batch gate and its streaming twin — one
  * definition, so the two can't silently diverge (bound constants,
  * scenario derivations, oracle SQL).
  */
object Shared {

  /** Integer-cents money convention (matches the oracle's
    * `CAST(ROUND(x*100) AS BIGINT)`).
    */
  def cents(x: Column): Column = round(x * 100).cast("long")

  // ---- skewed power-law corpus (dedup_skewed / etl_skewed_upsert) ----

  /** 24-token template shared by the hot document family. */
  val SkewTemplate: String =
    "the quick brown fox jumps over the lazy dog while seven wizards brew " +
      "strong coffee under bright morning light near quiet rivers at dawn"

  /** Skewed near-duplicate corpus over `documents` — the power-law-key
    * failure mode the 100 TB brief names, synthesized deterministically
    * in BOTH engines: 10% of docs (doc_id % 10 == 0) share the 24-token
    * [[SkewTemplate]] — their 20 template-interior shingles are the hot
    * join keys — followed by an 8-token md5-derived unique tail; the 1%
    * sub-cluster (doc_id % 100 == 0) carries one FIXED tail and is
    * byte-identical (one LSH bucket holding a tenth of the hot family).
    * Template pairs sit at Jaccard 20/36 ≈ 0.56 — hot in every candidate
    * stage but below the τ = 0.8 verify bar — so the verified output is
    * exactly the identical cluster's pairs, while the candidate/verify
    * joins see the full skew.
    */
  def skewedDocText(docId: Column, text: Column): Column = {
    val h = md5(docId.cast("string"))
    val tail = concat_ws(" ",
      (0 until 8).map(i => concat(lit("x"), substring(h, 1 + 2 * i, 2))): _*)
    when(docId % 100 === 0,
        lit(SkewTemplate + " alpha beta gamma delta epsilon zeta eta theta"))
      .when(docId % 10 === 0, concat(lit(SkewTemplate + " "), tail))
      .otherwise(text)
  }

  /** [[skewedDocText]] as a DuckDB expression over `doc_id`, `text`. */
  val SkewedDocSql: String = {
    val tail = (0 until 8)
      .map(i => s"'x' || substr(md5(CAST(doc_id AS VARCHAR)),${1 + 2 * i},2)")
      .mkString(" || ' ' || ")
    s"""CASE WHEN doc_id % 100 = 0
       |  THEN '$SkewTemplate alpha beta gamma delta epsilon zeta eta theta'
       |WHEN doc_id % 10 = 0 THEN '$SkewTemplate ' || $tail
       |ELSE text END""".stripMargin.replace("\n", " ")
  }

  /** The LLM curation pipeline's final-state rollup as DuckDB SQL — the
    * ONE oracle shared by `etl_llm_pipeline` (one-shot batch run) and
    * `stream_llm_pipeline` (≥3 micro-batches through the same executor):
    * the streaming pipeline's defining property is that its final
    * destination state is byte-identical to the batch run's, so both
    * gates must hash against the identical SQL. Replays the whole DAG:
    * dense-rank ingest ids, exact fingerprint dedup, the integer-exact
    * quality gate, langid heuristic, and the md5-ordered mixture cap.
    */
  val LlmCurationRollupSql: String =
    """WITH ing AS (
      |  SELECT doc_id, source, text,
      |    ROW_NUMBER() OVER (ORDER BY doc_id) AS did,
      |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |dd AS (SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY did) rn
      |    FROM ing) t WHERE rn = 1),
      |mf AS (SELECT doc_id, MAX(c) max_tok FROM (
      |   SELECT doc_id, tok, COUNT(*) c FROM (
      |     SELECT doc_id, unnest(string_split(text, ' ')) tok FROM dd) u
      |   GROUP BY 1, 2) g GROUP BY 1),
      |q AS (SELECT dd.* FROM dd
      |  JOIN (SELECT doc_id, CAST(LENGTH(text) AS BIGINT) ch,
      |          CAST(len(list_distinct(list_filter(string_split(text, ' '),
      |            t -> list_contains(['the','a','of','and','to','in'], t)))) AS BIGINT) ds
      |        FROM dd) f USING (doc_id)
      |  JOIN mf USING (doc_id)
      |  WHERE n_tokens BETWEEN 50 AND 100000
      |    AND ch - n_tokens + 1 >= n_tokens * 3
      |    AND ch - n_tokens + 1 <= n_tokens * 10
      |    AND ds >= 2 AND max_tok * 5 <= n_tokens),
      |l AS (SELECT *, CASE
      |    WHEN regexp_matches(lower(text), '[一-鿿]') THEN 'zh'
      |    WHEN regexp_matches(lower(text), '[Ѐ-ӿ]') THEN 'ru'
      |    WHEN regexp_matches(lower(text), '[áéíóúñ¿¡]') THEN 'es'
      |    WHEN CAST(len(list_filter(string_split(lower(text), ' '),
      |        t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE)
      |      / len(string_split(lower(text), ' ')) > 0.02 THEN 'en'
      |    ELSE 'unknown' END AS predicted_lang FROM q),
      |capn AS (SELECT MIN(c) cap FROM (
      |    SELECT COUNT(*) c FROM l GROUP BY source) g),
      |mix AS (SELECT * FROM (
      |   SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |     ORDER BY md5(CAST(doc_id AS VARCHAR) || 'mix'), doc_id) mrn
      |   FROM l) t
      |  WHERE mrn <= (SELECT cap FROM capn))
      |SELECT source, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(MIN(did) AS BIGINT) AS min_did,
      |  CAST(MAX(did) AS BIGINT) AS max_did
      |FROM mix GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Power-law event key: key 0 owns ~10% of all events, the remainder
    * spreads over 96 cold keys. The upsert-merge skew scenario's key.
    */
  def skewedEventKey(eventId: Column, userId: Column): Column =
    when(eventId % 10 === 0, lit(0L)).otherwise(pmod(userId, lit(96L)) + 1L)

  /** [[skewedEventKey]] as a DuckDB expression. */
  val SkewedEventKeySql: String =
    "CAST(CASE WHEN event_id % 10 = 0 THEN 0 ELSE user_id % 96 + 1 END AS BIGINT)"

  // ---- count-min gate (text_countmin / stream_countmin) --------------

  /** The exact per-token counts of the documents corpus, persisted ONCE
    * per sfDir and shared by both count-min gates — each gate consumes
    * it three ways (top-20 collect, join side, total mass), and a
    * per-call persist leaked one cached copy per gate per run (neither
    * caller could safely unpersist what the other might still need).
    * Owned by [[Layouts]].
    */
  def exactTokenCounts(spark: SparkSession, sf: String): DataFrame =
    Layouts.memo(spark, sf, "token_counts") {
      Tables.load(spark, sf, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
        .persist()
    }

  /** Assemble the count-min error-bound gate around an estimates frame
    * `(tok, est_cnt)`: emit the top-20 exact side only while every
    * estimate satisfies exact ≤ est ≤ exact + 3εN (ε = e/width).
    */
  def countMinGate(exact: DataFrame, top: DataFrame, ests: DataFrame,
      width: Int): DataFrame = {
    val total = exact.agg(sum(col("exact_cnt")).as("n_total"))
    top.join(ests, Seq("tok"))
      .crossJoin(broadcast(total))
      .filter(col("est_cnt") >= col("exact_cnt") &&
        col("est_cnt") <= col("exact_cnt") +
          ceil(col("n_total") * (3.0 * math.E / width)).cast("long"))
      .select(col("tok"), col("exact_cnt"))
      .orderBy(desc("exact_cnt"), col("tok"))
  }

  /** One oracle for both count-min gates: the exact top-20. */
  val CountMinOracle: String =
    """SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok ORDER BY exact_cnt DESC, tok LIMIT 20""".stripMargin

  // ---- incremental near-dup (dedup_incremental_fuzzy /
  //      stream_incremental_fuzzy) ------------------------------------

  /** One oracle for both incremental near-dup twins: the cross-side
    * restriction (history = doc_id%5≠4, batch = %5=4) of the symmetric
    * 5-shingle τ≥0.8 Jaccard pair join — the twins must stay
    * result-identical, so the threshold/shingle width live here once.
    */
  val IncrementalFuzzyOracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text,' ') t FROM documents),
      |idx AS (SELECT doc_id, unnest(range(len(t)-4)) i, t FROM toks WHERE len(t) >= 5),
      |sh0 AS (SELECT doc_id, list_aggregate(t[i+1:i+5], 'string_agg', ' ') s FROM idx),
      |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
      |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT h.doc_id a, b.doc_id b, COUNT(*) inter
      |  FROM sh h JOIN sh b ON h.s = b.s
      |  WHERE h.doc_id % 5 <> 4 AND b.doc_id % 5 = 4
      |  GROUP BY 1, 2)
      |SELECT a, b, CAST(inter AS BIGINT) AS inter,
      |  CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,
      |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
      |ORDER BY a, b""".stripMargin

  // ---- ordered conversion funnel (q_funnel / stream_funnel) ----------

  /** One oracle for both gap-fill twins (`q_gap_fill` batch window,
    * `stream_gap_fill` keyed state machine): per-event forward fill of
    * the purchase reading in (ts, event_id) order — the fill semantics
    * live here once so the two forms cannot drift apart.
    */
  val GapFillOracle: String =
    """WITH r AS (
      |  SELECT event_id, user_id, ts,
      |    CASE WHEN event_type = 'purchase'
      |      THEN CAST(ROUND(value*100) AS BIGINT) END AS reading_cents
      |  FROM events)
      |SELECT event_id, user_id, reading_cents,
      |  LAST_VALUE(reading_cents IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
      |FROM r ORDER BY event_id""".stripMargin

  /** One oracle for both funnel twins: chained running window flags
    * (stage k counts only at or after the first stage-k-1 event in
    * (ts, event_id) order), per-user max, one-row stage totals. The
    * stage list and ordering semantics live here once so the batch
    * window form and the streaming state machine cannot drift apart.
    */
  val FunnelOracle: String =
    """WITH f1 AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER w AS f1
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f2 AS (
      |  SELECT *, MAX(CASE WHEN event_type = 'view' AND f1 = 1 THEN 1 ELSE 0 END) OVER w AS f2
      |  FROM f1
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f3 AS (
      |  SELECT *, MAX(CASE WHEN event_type = 'click' AND f2 = 1 THEN 1 ELSE 0 END) OVER w AS f3
      |  FROM f2
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f4 AS (
      |  SELECT *, MAX(CASE WHEN event_type = 'purchase' AND f3 = 1 THEN 1 ELSE 0 END) OVER w AS f4
      |  FROM f3
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |pu AS (
      |  SELECT user_id, MAX(f1) u1, MAX(f2) u2, MAX(f3) u3, MAX(f4) u4
      |  FROM f4 GROUP BY user_id)
      |SELECT CAST(SUM(u1) AS BIGINT) AS users_signup,
      |  CAST(SUM(u2) AS BIGINT) AS users_view,
      |  CAST(SUM(u3) AS BIGINT) AS users_click,
      |  CAST(SUM(u4) AS BIGINT) AS users_purchase
      |FROM pu""".stripMargin

  /** One oracle for both attribution twins (q_attribution /
    * stream_attribution): per-purchase first/last preceding touch under
    * the total (ts, event_id) order via IGNORE NULLS running windows,
    * then (model, touch_type) revenue rollup. The attribution semantics
    * live here once so the batch window form and the streaming per-user
    * state machine cannot drift apart.
    */
  val AttributionOracle: String =
    """WITH ev AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CAST(ROUND(value*100) AS BIGINT) cents,
      |    CASE WHEN event_type IN ('click','view') THEN event_type
      |    END touch
      |  FROM events WHERE event_type IN ('click','view','purchase')),
      |w AS (
      |  SELECT *,
      |    last_value(touch IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) last_t,
      |    first_value(touch IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) first_t
      |  FROM ev),
      |p AS (SELECT * FROM w WHERE event_type = 'purchase')
      |SELECT model, touch_type, n_purchases,
      |  CAST(revenue_cents AS BIGINT) AS revenue_cents FROM (
      |  SELECT 'first' AS model, COALESCE(first_t,'none') AS touch_type,
      |    COUNT(*) n_purchases, SUM(cents) AS revenue_cents
      |  FROM p GROUP BY 2
      |  UNION ALL
      |  SELECT 'last', COALESCE(last_t,'none'),
      |    COUNT(*), SUM(cents) FROM p GROUP BY 2)
      |ORDER BY model, touch_type""".stripMargin

  /** One oracle for both OHLC twins (q_ohlc_bars / stream_ohlc_bars):
    * per-(event_type, hour) open/high/low/close in integer cents with
    * open/close picked under the total (ts, event_id) order. The bar
    * definition lives here once so the batch min_by/max_by form and the
    * streaming windowed aggregate cannot drift apart.
    */
  val OhlcOracle: String =
    """WITH e AS (
      |  SELECT event_type,
      |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |    CAST(ROUND(value*100) AS BIGINT) v,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |      ORDER BY ts, event_id) rn_a,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |      ORDER BY ts DESC, event_id DESC) rn_d
      |  FROM events)
      |SELECT event_type, hour,
      |  MAX(CASE WHEN rn_a = 1 THEN v END) AS open,
      |  MAX(v) AS high, MIN(v) AS low,
      |  MAX(CASE WHEN rn_d = 1 THEN v END) AS close,
      |  COUNT(*) AS volume
      |FROM e GROUP BY event_type, hour
      |ORDER BY event_type, hour""".stripMargin

  // ---- unigram-LM Viterbi tokenizer (text_unigram_viterbi /
  //      stream_unigram_encode) ----------------------------------------

  /** One oracle for both unigram-tokenizer twins: derive the vocab
    * (all single chars + top-16 multi-char substrings ≤ 4 by count
    * DESC, piece ASC) with micro-unit -ln(count/total) costs, then
    * replay the min-cost DP by recursive path enumeration with the
    * same (cost, then fewer-pieces) lexicographic tie-break. The twins
    * must stay result-identical, so the vocab parameters live here
    * once.
    */
  val UnigramViterbiOracle: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |tw AS (SELECT doc_id, word FROM toks WHERE word <> ''),
      |wf AS (SELECT word, COUNT(*) AS freq FROM tw GROUP BY 1),
      |pos AS (SELECT word, freq, unnest(range(1, len(word) + 1)) AS i FROM wf),
      |pl AS (SELECT word, freq, i, unnest([1, 2, 3, 4]) AS l FROM pos),
      |pieces AS (
      |  SELECT substr(word, i, l) AS piece, SUM(freq) AS cnt
      |  FROM pl WHERE i + l - 1 <= len(word) GROUP BY 1),
      |vocab AS (
      |  SELECT piece, cnt FROM pieces WHERE len(piece) = 1
      |  UNION ALL
      |  SELECT piece, cnt FROM (
      |    SELECT piece, cnt FROM pieces WHERE len(piece) > 1
      |    ORDER BY cnt DESC, piece LIMIT 16)),
      |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM vocab),
      |vc AS (
      |  SELECT piece,
      |    CAST(ROUND(-LN(CAST(cnt AS DOUBLE) / (SELECT t FROM tot)) * 1000000) AS BIGINT) AS cost
      |  FROM vocab),
      |dw AS (SELECT DISTINCT word FROM wf),
      |p(word, pos, cost, np) AS (
      |  SELECT word, 0, CAST(0 AS BIGINT), 0 FROM dw
      |  UNION ALL
      |  SELECT p.word, p.pos + len(v.piece), p.cost + v.cost, p.np + 1
      |  FROM p JOIN vc v
      |    ON substr(p.word, p.pos + 1, len(v.piece)) = v.piece
      |  WHERE p.pos < len(p.word)),
      |bestc AS (
      |  SELECT word, MIN(cost) AS w_cost FROM p
      |  WHERE pos = len(word) GROUP BY 1),
      |best AS (
      |  SELECT p.word, b.w_cost, MIN(p.np) AS w_pieces
      |  FROM p JOIN bestc b
      |    ON p.word = b.word AND p.pos = len(p.word) AND p.cost = b.w_cost
      |  GROUP BY 1, 2)
      |SELECT t.doc_id,
      |  CAST(SUM(b.w_pieces) AS BIGINT) AS n_pieces,
      |  CAST(SUM(b.w_cost) AS BIGINT) AS cost_micro
      |FROM tw t JOIN best b USING (word)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- CDC scenario (etl_cdc_apply / stream_cdc_apply) ----------------

  /** The CDC fixture both twins apply: snapshot = custkey%3==0; log =
    * an update for every even key (seq 1) plus a LATER delete for every
    * 10th (seq 2) that must win over it. Returns (snapshot, log).
    */
  def cdcScenario(spark: SparkSession, sf: String): (DataFrame, DataFrame) = {
    val c = Tables.load(spark, sf, "customer")
    val snapshot = c.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("id"),
        cents(col("c_acctbal")).as("bal_cents"), lit("old").as("marker"))
    val log = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("id"), lit(1L).as("seq"), lit("U").as("op"),
        (cents(col("c_acctbal")) + 100L).as("bal_cents"), lit("updated").as("marker"))
      .unionByName(c.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey").as("id"), lit(2L).as("seq"), lit("D").as("op"),
          lit(null).cast("long").as("bal_cents"), lit(null).cast("string").as("marker")))
    (snapshot, log)
  }

  /** One oracle for both CDC gates. */
  val CdcOracle: String =
    """WITH snap AS (
      |  SELECT c_custkey AS id, CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal,
      |    'old' AS marker
      |  FROM customer WHERE c_custkey % 3 = 0),
      |upd AS (
      |  SELECT c_custkey AS id, CAST(ROUND(c_acctbal*100) AS BIGINT) + 100 AS bal
      |  FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 10 <> 0)
      |SELECT COALESCE(u.id, s.id) AS id,
      |  COALESCE(u.bal, s.bal) AS bal_cents,
      |  CASE WHEN u.id IS NOT NULL THEN 'updated' ELSE s.marker END AS marker
      |FROM snap s FULL OUTER JOIN upd u ON s.id = u.id
      |WHERE COALESCE(u.id, s.id) % 10 <> 0
      |ORDER BY id""".stripMargin

  /** One oracle for both SymSpell ER gates (`er_symspell_match` batch,
    * `stream_er_symspell` arriving-records twin): every (longer,
    * shorter) pair where the shorter name is a 1-deletion of the
    * longer. All qualifying pairs are clean(18-char) → dirty(17-char)
    * by construction, so the batch pair set IS the stream's
    * clean-registry-vs-arriving-dirty match set.
    */
  val SymspellOracle: String =
    """WITH ents AS (
      |  SELECT c_custkey AS key, c_name AS name FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 10000000,
      |    substr(c_name, 1, c_custkey % (LENGTH(c_name) - 2) + 1)
      |      || substr(c_name, c_custkey % (LENGTH(c_name) - 2) + 3)
      |  FROM customer WHERE c_custkey % 5 = 0),
      |dels AS (
      |  SELECT key a_key, name a_name,
      |    substr(name, 1, p) || substr(name, p + 2) AS k
      |  FROM (SELECT key, name, unnest(range(0, LENGTH(name))) p FROM ents)),
      |cand AS (
      |  SELECT DISTINCT a_key, b.key b_key, a_name, b.name b_name
      |  FROM dels JOIN ents b ON dels.k = b.name
      |  WHERE LENGTH(a_name) = LENGTH(b.name) + 1
      |    AND levenshtein(a_name, b.name) = 1)
      |SELECT a_key, b_key, a_name, b_name FROM cand
      |ORDER BY a_key, b_key""".stripMargin

  /** One oracle for both IVM gates (`etl_ivm_agg`, `stream_ivm_agg`):
    * the maintained view must equal a fresh aggregation of the fully
    * patched table.
    */
  /** One oracle for both exact time-decayed counter gates
    * (`q_decay_counts` batch, `stream_decay_counts` streaming fold):
    * per-type half-life-decayed event mass relative to the corpus's
    * latest instant, ages capped at 30 half-lives so every weight
    * 2^-age_h is an exact dyadic rational and the double sum is
    * order-independent IEEE arithmetic — hash-comparable across
    * engines and across batch/stream evaluation orders.
    */
  val DecayOracle: String =
    """WITH m AS (SELECT MAX(epoch_us(ts)) mx FROM events)
      |SELECT event_type, COUNT(*) AS n_events,
      |  SUM(power(2, -LEAST((((SELECT mx FROM m) - epoch_us(ts)) // 3600000000), 30)))
      |    AS decayed_weight
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** One oracle for both DP-release twins (`privacy_dp_counts` batch,
    * `stream_dp_counts` complete-mode stream): per-type counts plus the
    * seeded discrete-Laplace noise — G₁ − G₂ from the leading-zero
    * counts of two md5-derived 32-bit words (see
    * [[graft.ops.Curation.dpGeometricNoise]]). All-integer, bit-exact
    * in both engines; the twins must release identical counts, so the
    * mechanism's SQL replay lives here once.
    */
  val DpCountsOracle: String =
    """WITH g AS (SELECT event_type, COUNT(*) n FROM events GROUP BY 1),
      |z AS (SELECT event_type, n,
      |    (32 - length(ltrim(bin(('0x' || substr(md5(event_type || 'dp'), 1, 8))::BIGINT), '0')))
      |  - (32 - length(ltrim(bin(('0x' || substr(md5(event_type || 'dp'), 9, 8))::BIGINT), '0')))
      |    AS zz
      |  FROM g)
      |SELECT event_type, CAST(n AS BIGINT) AS n_events,
      |  CAST(zz AS BIGINT) AS dp_noise,
      |  CAST(n + zz AS BIGINT) AS dp_count
      |FROM z ORDER BY event_type""".stripMargin

  // ---- URL canonicalization scenario (text_url_* / dedup_url) --------

  /** Deterministic synthetic crawl URL per document. The test corpus
    * carries no URL column, so BOTH engines derive the same URL from
    * `doc_id` — Spark through this Column, the oracle through
    * [[UrlSql]] — exercising every canonicalization rule: cased
    * schemes/hosts, default and non-default ports, trailing slashes,
    * tracking and payload params, fragments. Variant digits come from
    * md5 hex chars (identical in both engines) so the merged dimensions
    * are independent of the page/id residues — a plain doc_id-modulus
    * construction correlates every component through the CRT and
    * collisions after canonicalization all but vanish.
    */
  def syntheticUrl(docId: Column): Column = {
    val h = md5(docId.cast("string"))
    def digit(i: Int, m: Int): Column = ascii(substring(h, i, 1)) % m
    val scheme = when(digit(1, 4) === 0, "http").when(digit(1, 4) === 1, "HTTP")
      .when(digit(1, 4) === 2, "https").otherwise("HTTPS")
    val host = when(digit(2, 3) === 0, "Example.COM")
      .when(digit(2, 3) === 1, "example.com").otherwise("CDN.Example.com")
    val port = when(digit(3, 5) === 1, ":80").when(digit(3, 5) === 2, ":443")
      .when(digit(3, 5) === 3, ":8080").otherwise("")
    val path = concat(lit("/p"), (docId % 8).cast("string"))
    val trail = when(digit(4, 2) === 0, "/").otherwise("")
    val id = (docId % 5).cast("string")
    val query = when(digit(5, 6) === 0, concat(lit("?utm_source=feed&id="), id))
      .when(digit(5, 6) === 1, concat(lit("?id="), id, lit("&utm_campaign=x")))
      .when(digit(5, 6) === 2, "?gclid=1")
      .when(digit(5, 6) === 3, concat(lit("?id="), id))
      .otherwise("")
    val frag = when(digit(6, 2) === 0, "#sec").otherwise("")
    concat(scheme, lit("://"), host, port, path, trail, query, frag)
  }

  /** [[syntheticUrl]] as a DuckDB expression over `doc_id`. */
  val UrlSql: String =
    """(CASE ascii(substr(md5(CAST(doc_id AS VARCHAR)),1,1))%4
      |   WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP' WHEN 2 THEN 'https' ELSE 'HTTPS' END)
      | || '://' ||
      |(CASE ascii(substr(md5(CAST(doc_id AS VARCHAR)),2,1))%3
      |   WHEN 0 THEN 'Example.COM' WHEN 1 THEN 'example.com' ELSE 'CDN.Example.com' END)
      | ||
      |(CASE ascii(substr(md5(CAST(doc_id AS VARCHAR)),3,1))%5
      |   WHEN 1 THEN ':80' WHEN 2 THEN ':443' WHEN 3 THEN ':8080' ELSE '' END)
      | || '/p' || CAST(doc_id%8 AS VARCHAR) ||
      |(CASE ascii(substr(md5(CAST(doc_id AS VARCHAR)),4,1))%2 WHEN 0 THEN '/' ELSE '' END)
      | ||
      |(CASE ascii(substr(md5(CAST(doc_id AS VARCHAR)),5,1))%6
      |   WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id%5 AS VARCHAR)
      |   WHEN 1 THEN '?id=' || CAST(doc_id%5 AS VARCHAR) || '&utm_campaign=x'
      |   WHEN 2 THEN '?gclid=1'
      |   WHEN 3 THEN '?id=' || CAST(doc_id%5 AS VARCHAR)
      |   ELSE '' END)
      | ||
      |(CASE ascii(substr(md5(CAST(doc_id AS VARCHAR)),6,1))%2 WHEN 0 THEN '#sec' ELSE '' END)"""
      .stripMargin.replace("\n", " ")

  /** Deterministic synthetic crawl PAGE per document: the corpus text
    * wrapped in real HTML with the non-content blocks every extractor
    * must drop (a `<style>` head, `<nav>` chrome with two links, an
    * inline `<script>`) plus one in-content anchor pointing at the
    * document's [[syntheticUrl]]. Both engines build the identical
    * markup — Spark through this Column, the oracle through [[HtmlSql]]
    * — so HTML extraction is a full hash oracle, not a rows gate.
    */
  def syntheticHtml(docId: Column, text: Column): Column = concat(
    lit("<html><head><title>Doc "), docId.cast("string"),
    lit("</title><style>p{margin:0}</style></head><body>" +
      "<nav><a href=\"/home\">Home</a> <a href=\"/about\">About</a></nav>" +
      "<script>track("), docId.cast("string"),
    lit(")</script><p>"), text,
    lit("</p><p>See <a href=\""), syntheticUrl(docId),
    lit("\">source</a></p></body></html>"))

  /** [[syntheticHtml]] as a DuckDB expression over `doc_id`, `text`. */
  val HtmlSql: String =
    s"""'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
       |'</title><style>p{margin:0}</style></head><body>' ||
       |'<nav><a href="/home">Home</a> <a href="/about">About</a></nav>' ||
       |'<script>track(' || CAST(doc_id AS VARCHAR) || ')</script><p>' ||
       |text || '</p><p>See <a href="' || ($UrlSql) ||
       |'">source</a></p></body></html>'""".stripMargin.replace("\n", " ")

  /** SQL replay of [[graft.ops.TextOps.canonicalizeUrl]] — a CTE body
    * expecting a relation `urls(doc_id, url)` and yielding
    * `(doc_id, url, canon)`. Each regex step mirrors the Column
    * pipeline verbatim (RE2 and Java agree on every pattern used).
    */
  val UrlCanonSql: String =
    """SELECT doc_id, url,
      |  CASE WHEN scheme = '' THEN url ELSE
      |    scheme || '://' || host ||
      |    (CASE WHEN port <> '' AND NOT (scheme='http' AND port='80')
      |               AND NOT (scheme='https' AND port='443')
      |          THEN ':' || port ELSE '' END) ||
      |    (CASE WHEN regexp_replace(path0, '/$', '') = '' THEN '/'
      |          ELSE regexp_replace(path0, '/$', '') END) ||
      |    (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
      |          ELSE '' END)
      |  END AS canon
      |FROM (
      |  SELECT doc_id, url,
      |    lower(regexp_replace(hostport, ':[0-9]+$', '')) AS host,
      |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
      |    regexp_extract(rest, '^([^?]*)', 1) AS path0,
      |    list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
      |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid|msclkid|ref)='))
      |      AS params,
      |    scheme
      |  FROM (
      |    SELECT doc_id, url,
      |      lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
      |      regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?]*)', 1) AS hostport,
      |      regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?]*(.*)$', 1) AS rest
      |    FROM (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag FROM urls)))"""
      .stripMargin

  val IvmOracle: String =
    """WITH snap AS (
      |  SELECT c_custkey AS id, CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal
      |  FROM customer WHERE c_custkey % 3 = 0),
      |upd AS (
      |  SELECT c_custkey AS id, CAST(ROUND(c_acctbal*100) AS BIGINT) + 100 AS bal
      |  FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 10 <> 0),
      |final AS (
      |  SELECT COALESCE(u.id, s.id) AS id, COALESCE(u.bal, s.bal) AS bal
      |  FROM snap s FULL OUTER JOIN upd u ON s.id = u.id
      |  WHERE COALESCE(u.id, s.id) % 10 <> 0)
      |SELECT id % 7 AS g, COUNT(*) AS n_members,
      |  CAST(SUM(bal) AS BIGINT) AS bal_sum
      |FROM final GROUP BY g ORDER BY g""".stripMargin

  /** One oracle for both hybrid-retrieval twins (`text_hybrid_rrf`
    * batch, `stream_hybrid_rrf` micro-batched probes): idf-overlap
    * lexical top-20 + exact-cosine dense top-20 per probe, RRF-fused
    * (k=60) top-10. Both rankers order by 6-dp-rounded scores with
    * doc-id tie-breaks and the RRF sum is order-independent IEEE
    * addition, so ranks and fused scores replay exactly cross-engine.
    * The fusion contract lives here once so the batch operator and the
    * streaming twin cannot drift apart.
    */
  val HybridRrfOracle: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                t -> t <> '') AS toks
      |  FROM documents
      |),
      |probes AS (
      |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
      |  FROM embeddings WHERE vec_id % 100 = 7 AND vec_id < 2000
      |),
      |corpus AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS cv
      |           FROM embeddings),
      |dense_scored AS (
      |  SELECT p.probe_id, c.doc_id,
      |    ROUND(list_dot_product(p.pv, c.cv) /
      |      (sqrt(list_dot_product(p.pv, p.pv)) *
      |       sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
      |  FROM probes p JOIN corpus c ON c.doc_id <> p.probe_id
      |),
      |dense_top AS (
      |  SELECT * FROM (
      |    SELECT probe_id, doc_id,
      |      ROW_NUMBER() OVER (PARTITION BY probe_id
      |                         ORDER BY sim DESC, doc_id) AS r
      |    FROM dense_scored) WHERE r <= 20
      |),
      |terms AS (
      |  SELECT doc_id, unnest(list_distinct(toks)) AS term FROM docs
      |),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM docs),
      |probe_terms AS (
      |  SELECT p.probe_id, t.term
      |  FROM (SELECT probe_id FROM probes) p
      |  JOIN terms t ON t.doc_id = p.probe_id
      |),
      |pdf AS (
      |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM terms
      |  WHERE term IN (SELECT term FROM probe_terms) GROUP BY term
      |),
      |sparse_scored AS (
      |  SELECT pt.probe_id, t.doc_id,
      |    ROUND(SUM(ln(n.n_docs / pdf.df)), 6) AS score
      |  FROM probe_terms pt
      |  JOIN terms t USING (term)
      |  JOIN pdf USING (term)
      |  CROSS JOIN n
      |  WHERE t.doc_id <> pt.probe_id
      |  GROUP BY pt.probe_id, t.doc_id
      |),
      |sparse_top AS (
      |  SELECT * FROM (
      |    SELECT probe_id, doc_id,
      |      ROW_NUMBER() OVER (PARTITION BY probe_id
      |                         ORDER BY score DESC, doc_id) AS r
      |    FROM sparse_scored) WHERE r <= 20
      |),
      |fused AS (
      |  SELECT COALESCE(d.probe_id, s.probe_id) AS probe_id,
      |    COALESCE(d.doc_id, s.doc_id) AS doc_id,
      |    COALESCE(1.0 / (60 + d.r), 0) + COALESCE(1.0 / (60 + s.r), 0) AS rrf,
      |    COALESCE(d.r, 0) AS dense_rank,
      |    COALESCE(s.r, 0) AS sparse_rank
      |  FROM dense_top d
      |  FULL OUTER JOIN sparse_top s
      |    ON d.probe_id = s.probe_id AND d.doc_id = s.doc_id
      |)
      |SELECT probe_id, CAST(fr AS INT) AS fused_rank, doc_id,
      |  ROUND(rrf, 6) AS rrf,
      |  CAST(dense_rank AS INT) AS dense_rank,
      |  CAST(sparse_rank AS INT) AS sparse_rank
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
      |                               ORDER BY rrf DESC, doc_id) AS fr
      |  FROM fused)
      |WHERE fr <= 10 ORDER BY probe_id, fused_rank""".stripMargin

  /** One oracle for both Holt twins (`q_holt_winters` batch fold,
    * `stream_holt` incremental StatefulProcessor): level + trend double
    * exponential smoothing, α = β = 1/4, integer micro-units with
    * truncate-toward-zero division (Spark `div`, DuckDB `//` and Java
    * `/` all agree — verified). The fold is a RECURSIVE CTE over the
    * row-numbered per-type series, NOT list_reduce: DuckDB's
    * list_reduce mutates a struct accumulator's fields in place
    * left-to-right, so the 'b' expression would read the
    * already-updated 'l'. The twins must stay result-identical, so
    * the recurrence lives here once.
    */
  val HoltOracle: String =
    """WITH RECURSIVE hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |idx AS MATERIALIZED (
      |  SELECT event_type,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS i,
      |    CAST(n AS BIGINT) AS x
      |  FROM hourly),
      |cnt AS (SELECT event_type, COUNT(*) AS len FROM idx GROUP BY 1),
      |hw AS (
      |  SELECT event_type, CAST(1 AS BIGINT) AS i,
      |    x * 1000000 AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS m
      |  FROM idx WHERE i = 1
      |  UNION ALL
      |  SELECT w.event_type, w.i + 1,
      |    (ix.x * 1000000 + 3 * (w.l + w.b)) // 4,
      |    ((ix.x * 1000000 + 3 * (w.l + w.b)) // 4 - w.l + 3 * w.b) // 4,
      |    w.m + CASE WHEN abs(ix.x * 1000000 - (w.l + w.b)) * 2
      |                    > abs(w.l + w.b) THEN 1 ELSE 0 END
      |  FROM hw w JOIN idx ix ON ix.event_type = w.event_type
      |                       AND ix.i = w.i + 1)
      |SELECT w.event_type, CAST(c.len AS INT) AS n_hours,
      |  w.l AS level_micro, w.b AS trend_micro,
      |  CAST(w.m AS BIGINT) AS n_anomalies
      |FROM hw w JOIN cnt c USING (event_type) WHERE w.i = c.len
      |ORDER BY event_type""".stripMargin

  /** One oracle for both EWMA twins (`q_exp_smoothing` batch fold,
    * `stream_exp_smoothing` incremental StatefulProcessor): the α = 1/4
    * integer micro-unit recurrence over per-type hourly counts, state
    * packed into one BIGINT so DuckDB's homogeneous list_reduce replays
    * the fold (the FNV list_prepend trick). The twins must stay
    * result-identical, so the packing layout and anomaly rule live here
    * once.
    */
  val ExpSmoothingOracle: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |series AS (
      |  SELECT event_type, list(CAST(n AS BIGINT) ORDER BY h) AS s
      |  FROM hourly GROUP BY 1),
      |folded AS (
      |  SELECT event_type, list_reduce(
      |    list_prepend(CAST(-1 AS BIGINT), s), (acc, x) -> CASE
      |      WHEN acc < 0 THEN x * 1000000 * 268435456 + 1
      |      ELSE (x * 1000000 + 3 * (acc // 268435456)) // 4 * 268435456
      |        + ((acc // 16384) % 16384
      |           + CASE WHEN abs(x * 1000000 - acc // 268435456) * 2
      |                       > acc // 268435456 THEN 1 ELSE 0 END) * 16384
      |        + (acc % 16384 + 1)
      |    END) AS p
      |  FROM series)
      |SELECT event_type, CAST(p % 16384 AS INT) AS n_hours,
      |  CAST(p // 268435456 AS BIGINT) AS level_micro,
      |  CAST((p // 16384) % 16384 AS BIGINT) AS n_anomalies
      |FROM folded ORDER BY event_type""".stripMargin

  /** The BM25 (k1=1.2, b=0.75) scoring replay as a CTE chain ending in
    * `scored` (probe_id, doc_id, 6-dp score) — shared by
    * [[ProbeBm25Oracle]] (the batch + streaming probe twins) and the
    * eval_ndcg oracle, so the ranking the NDCG audit grades is exactly
    * the ranking the retrieval gates verify.
    */
  val ProbeBm25ScoredCtes: String =
    """WITH docs AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
             |                t -> t <> '') AS toks
             |  FROM documents
             |),
             |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM docs),
             |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             |                 AVG(dl) AS avgdl FROM dl),
             |terms AS (SELECT doc_id, unnest(toks) AS term FROM docs),
             |probes AS (SELECT vec_id AS probe_id FROM embeddings
             |           WHERE vec_id % 100 = 7 AND vec_id < 2000),
             |probe_terms AS (
             |  SELECT DISTINCT p.probe_id, t.term
             |  FROM probes p JOIN terms t ON t.doc_id = p.probe_id
             |),
             |dfreq AS (
             |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
             |  FROM (SELECT DISTINCT doc_id, term FROM terms)
             |  WHERE term IN (SELECT DISTINCT term FROM probe_terms)
             |  GROUP BY term
             |),
             |tf AS (
             |  SELECT pt.probe_id, t.doc_id, t.term,
             |    CAST(COUNT(*) AS DOUBLE) AS tf
             |  FROM terms t JOIN probe_terms pt USING (term)
             |  WHERE t.doc_id <> pt.probe_id
             |  GROUP BY pt.probe_id, t.doc_id, t.term
             |),
             |scored AS (
             |  SELECT f.probe_id, f.doc_id,
             |    ROUND(SUM(
             |      ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) * f.tf * 2.2 /
             |      (f.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))), 6) AS score
             |  FROM tf f
             |  JOIN dfreq d USING (term)
             |  JOIN dl l ON l.doc_id = f.doc_id
             |  CROSS JOIN stats s
             |  GROUP BY f.probe_id, f.doc_id
             |)""".stripMargin

  /** One oracle for both per-probe BM25 twins (`text_probe_bm25` batch,
    * `stream_probe_bm25` streaming probes against the precomputed
    * impact-indexed posting list): top-20 per probe, 6-dp rank keys.
    */
  val ProbeBm25Oracle: String =
    s"""$ProbeBm25ScoredCtes
       |SELECT probe_id, CAST(r AS INT) AS r, doc_id, score FROM (
       |  SELECT probe_id, doc_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |                       ORDER BY score DESC, doc_id) AS r
       |  FROM scored)
       |WHERE r <= 20 ORDER BY probe_id, r""".stripMargin

  // ------------------------------------------------------------------
  // Experimentation-suite shared expression texts. Each is ONE SQL
  // fragment valid verbatim in BOTH Spark SQL and DuckDB, so the two
  // engines evaluate literally the same operation sequence on the same
  // exact-integer inputs (IEEE-754 +,-,*,/ and SQRT are exact-rounded,
  // hence bit-identical results; POW appears only inside ROUND'd
  // display columns, the q_welch_ttest precedent).

  /** Welch t² on exact moments (n_a,s_a,q_a,n_b,s_b,q_b). */
  val WelchT2: String =
    """POW(CAST(s_a * n_b - s_b * n_a AS DOUBLE)
      |      / (CAST(n_a AS DOUBLE) * n_b), 2)
      |  / ((CAST(n_a AS DOUBLE) * q_a - CAST(s_a AS DOUBLE) * s_a)
      |       / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1))
      |     + (CAST(n_b AS DOUBLE) * q_b - CAST(s_b AS DOUBLE) * s_b)
      |       / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1)))""".stripMargin

  /** Exact integer α=0.05 Welch decision (t² ≥ 1.96² cross-multiplied)
    * in Spark DECIMAL(38,0), with the raise_error domain tripwire
    * where the cross-products would leave the 38-digit exact domain —
    * extracted verbatim from q_welch_ttest so panel tests (DiD) reuse
    * the identical decision arithmetic.
    */
  val WelchDecisionSpark: String =
    """CASE WHEN 625 * POW(CAST(s_a * n_b - s_b * n_a AS DOUBLE), 2)
      |       * (n_a - 1) * (n_b - 1) > 1e36
      |    OR 2401 * ((CAST(n_a AS DOUBLE) * q_a)
      |         * n_b * n_b * (n_b - 1)
      |       + (CAST(n_b AS DOUBLE) * q_b)
      |         * n_a * n_a * (n_a - 1)) > 1e36
      |  THEN CAST(raise_error(CONCAT('welch decision: statistics exceed ',
      |    'the DECIMAL(38) exact-decision domain - shard the metric ',
      |    'or decide on the t2 double')) AS INT)
      |  ELSE CAST(
      |    CAST(s_a * n_b - s_b * n_a AS DECIMAL(38,0))
      |      * (s_a * n_b - s_b * n_a) * (n_a - 1) * (n_b - 1) * 625
      |    >= CAST(2401 AS DECIMAL(38,0))
      |      * ((CAST(n_a AS DECIMAL(38,0)) * q_a
      |            - CAST(s_a AS DECIMAL(38,0)) * s_a) * n_b * n_b * (n_b - 1)
      |         + (CAST(n_b AS DECIMAL(38,0)) * q_b
      |            - CAST(s_b AS DECIMAL(38,0)) * s_b) * n_a * n_a * (n_a - 1))
      |    AS INT) END""".stripMargin

  /** Exact positive-variance guard on the pooled Welch moments —
    * n·q − s² ≥ 0 always, so the sum is 0 only when both arms are
    * constant (the one case where t²'s denominator divides by zero).
    * DECIMAL(38,0) because s² leaves BIGINT long before the decision
    * domain does; the text is valid verbatim in both engines. */
  val WelchVarPos: String =
    """CAST(n_a AS DECIMAL(38,0)) * q_a - CAST(s_a AS DECIMAL(38,0)) * s_a
      | + CAST(n_b AS DECIMAL(38,0)) * q_b
      | - CAST(s_b AS DECIMAL(38,0)) * s_b > 0""".stripMargin

  /** The same exact decision in DuckDB HUGEINT (127-bit — overflow
    * raises loudly there, so no tripwire branch is needed). */
  val WelchDecisionDuck: String =
    """CAST(CAST(s_a * n_b - s_b * n_a AS HUGEINT)
      |  * (s_a * n_b - s_b * n_a) * (n_a - 1) * (n_b - 1) * 625
      |>= CAST(2401 AS HUGEINT)
      |  * ((CAST(n_a AS HUGEINT) * q_a
      |        - CAST(s_a AS HUGEINT) * s_a) * n_b * n_b * (n_b - 1)
      |     + (CAST(n_b AS HUGEINT) * q_b
      |        - CAST(s_b AS HUGEINT) * s_b) * n_a * n_a * (n_a - 1))
      |AS INT)""".stripMargin

  /** Delta-method per-arm variance of the ratio Σy/Σm over k_x
    * clusters, from the exact BIGINT stats (k,sy,sm,qy,qm,sym)_x —
    * (σ_y² + R²σ_m² − 2Rσ_ym)/(k·m̄²) as ONE +,-,*,/ expression. */
  private def deltaRatioVar(x: String): String =
    s"""((CAST(qy_$x AS DOUBLE) - CAST(sy_$x AS DOUBLE) * sy_$x / k_$x)
       |   + (CAST(sy_$x AS DOUBLE) / sm_$x) * (CAST(sy_$x AS DOUBLE) / sm_$x)
       |     * (CAST(qm_$x AS DOUBLE) - CAST(sm_$x AS DOUBLE) * sm_$x / k_$x)
       |   - 2 * (CAST(sy_$x AS DOUBLE) / sm_$x)
       |     * (CAST(sym_$x AS DOUBLE) - CAST(sy_$x AS DOUBLE) * sm_$x / k_$x))
       | / (k_$x - 1) / k_$x
       | / (CAST(sm_$x AS DOUBLE) / k_$x) / (CAST(sm_$x AS DOUBLE) / k_$x)"""
      .stripMargin

  /** Positive-variance guard for the delta-method z² denominator. */
  val DeltaRatioVarPos: String =
    s"(${deltaRatioVar("a")} + ${deltaRatioVar("b")}) > 0"

  /** Delta-method z² for the two-arm ratio difference. */
  val DeltaRatioZ2: String =
    s"""(CAST(sy_a AS DOUBLE) / sm_a - CAST(sy_b AS DOUBLE) / sm_b)
       | * (CAST(sy_a AS DOUBLE) / sm_a - CAST(sy_b AS DOUBLE) / sm_b)
       | / (${deltaRatioVar("a")} + ${deltaRatioVar("b")})""".stripMargin

  /** Σy² BIGINT-wrap tripwire on the order-insensitive double shadow
    * sums gy_a/gy_b (Spark raise_error / DuckDB error variants). */
  val DeltaRatioDomainGuard: String =
    """CASE WHEN gy_a > 4e18 OR gy_b > 4e18
      |THEN CAST(raise_error('q_delta_ratio: sum of squared cluster totals approaches BIGINT wrap - rescale the metric') AS INT)
      |ELSE 1 END""".stripMargin
  val DeltaRatioDomainGuardDuck: String =
    """CASE WHEN gy_a > 4e18 OR gy_b > 4e18
      |THEN CAST(error('q_delta_ratio: sum of squared cluster totals approaches BIGINT wrap - rescale the metric') AS INT)
      |ELSE 1 END""".stripMargin

  /** Pooled conversion p̄ from exact per-arm counts (n_a,x_a,n_b,x_b). */
  val PowerPPool: String = "(CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))"

  /** Absolute MDE at α=0.05 / power 0.8 — SQRT is the only libm call
    * and IEEE 754 requires it correctly rounded; 2.801585 =
    * z_{0.975} + z_{0.8} is squared by multiplication, never POW. */
  val PowerMdeAbs: String =
    s"2.801585 * SQRT($PowerPPool * (1 - $PowerPPool) * (1.0 / n_a + 1.0 / n_b))"

  /** Required per-arm n to detect a 10% relative lift at the same
    * design point (formula inverted; CEIL'd by the caller). */
  val PowerNReq10: String =
    s"""2 * $PowerPPool * (1 - $PowerPPool) * (2.801585 * 2.801585)
       | / ((0.1 * $PowerPPool) * (0.1 * $PowerPPool))""".stripMargin

  /** Standardized mean difference on the pooled Welch moments
    * (n_*, s_*, q_*) — (m_a − m_b)/√((v_a+v_b)/2) as one expression
    * whose only libm call is the IEEE-correctly-rounded SQRT;
    * variances use the double-cast n·q − s² form (s² leaves BIGINT
    * at this corpus's cents scale). */
  val SmdExpr: String =
    """(CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
      |  / SQRT(((CAST(n_a AS DOUBLE) * q_a - CAST(s_a AS DOUBLE) * s_a)
      |            / (CAST(n_a AS DOUBLE) * (n_a - 1))
      |          + (CAST(n_b AS DOUBLE) * q_b - CAST(s_b AS DOUBLE) * s_b)
      |            / (CAST(n_b AS DOUBLE) * (n_b - 1))) / 2)""".stripMargin

  /** One oracle for both SRM twins (`q_srm_check` batch,
    * `stream_srm` complete-mode streaming monitor): the χ² two-cell
    * sample-ratio-mismatch check over distinct users, exact integer
    * decisions at α=0.05 and the stringent α=0.001 SRM alarm. */
  val SrmOracle: String =
    """WITH users AS (SELECT DISTINCT user_id FROM events),
      |wide AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM users)
      |SELECT n_a, n_b,
      |  CASE WHEN n_a + n_b > 0 THEN
      |    ROUND(POW(CAST(n_a - n_b AS DOUBLE), 2) / (n_a + n_b), 4) END AS chi2,
      |  CASE WHEN n_a + n_b > 0 THEN
      |    CAST(625 * (n_a - n_b) * (n_a - n_b) >= 2401 * (n_a + n_b) AS INT)
      |  END AS mismatch_05,
      |  CASE WHEN n_a + n_b > 0 THEN
      |    CAST(1000 * (n_a - n_b) * (n_a - n_b) >= 10828 * (n_a + n_b) AS INT)
      |  END AS srm_alarm
      |FROM wide""".stripMargin

  /** Poisson(1) inverse-CDF thresholds at 2³² scale: a uniform 32-bit
    * word v (an md5 word — the dpGeometricNoise recipe) maps to the
    * bootstrap weight w = Σ_k 1[v ≥ T_k] ∈ {0..7}, where
    * T_k = ⌊CDF_Poisson(1)(k)·2³²⌋. Pure integer comparisons — the
    * weights replay bit-exact in both engines. Truncation at 7 drops
    * P(X ≥ 8) ≈ 1.0e-5 of the tail mass (disclosed; immaterial next
    * to bootstrap noise at any n). */
  val PoissonThresholds: Seq[Long] = Seq(
    1580030168L, 3160060337L, 3950075421L, 4213413783L,
    4279248373L, 4292415291L, 4294609777L)

  /** The same weight as a SQL fragment over a column named `v` —
    * identical text in both engines. */
  val PoissonWeightSql: String = PoissonThresholds
    .map(t => s"CASE WHEN v >= $t THEN 1 ELSE 0 END")
    .mkString("(", "\n       + ", ")")

  /** O'Brien–Fleming two-sided α=0.05 group-sequential boundaries for
    * K = 4 equally-spaced looks (Jennison & Turnbull, public
    * textbook values z = 4.048, 2.862, 2.337, 2.024), squared and
    * scaled by 10⁶ — exact integers (3-decimal literals square to
    * 6 decimals), so each look's rejection is an exact cross-
    * multiplied integer comparison. */
  val ObfBoundsE6: Seq[Long] = Seq(16386304L, 8191044L, 5461569L, 4096576L)

  /** One oracle for both O'Brien-Fleming twins (q_obrien_fleming batch,
    * stream_obrien_fleming interim read-out over live per-user state). */
  /** One oracle for both SCD2 twins: `q_scd2_history` (batch window
    * composition over the full order history) and `stream_scd2` (the
    * same history maintained INCREMENTALLY from date-ordered CDC
    * chunks through the merge-on-read delta log). */
  val Scd2Oracle: String =
    """WITH changes AS (
      |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      |  FROM (
      |    SELECT *, LAG(o_orderpriority) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS prev
      |    FROM orders)
      |  WHERE prev IS NULL OR prev <> o_orderpriority)
      |SELECT o_custkey, o_orderpriority AS priority,
      |  o_orderdate AS valid_from,
      |  LEAD(o_orderdate) OVER w AS valid_to,
      |  CAST(ROW_NUMBER() OVER w AS INT) AS version
      |FROM changes
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, version""".stripMargin

  /** One oracle for both log-rank twins (`q_logrank` batch,
    * `stream_logrank` live complete-mode survival monitor). */
  val LogrankOracle: String =
    """WITH per AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS f, MAX(epoch_us(ts)) AS l,
      |    MIN(CASE WHEN event_type = 'purchase'
      |      THEN epoch_us(ts) END) AS conv
      |  FROM events GROUP BY 1),
      |byt AS (
      |  SELECT (COALESCE(conv, l) - f) // 3600000000 AS t,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n1_at,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
      |      AS BIGINT) AS n2_at,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0
      |      AND conv IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d1,
      |    CAST(SUM(CASE WHEN user_id % 2 <> 0
      |      AND conv IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d2
      |  FROM per GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n1_at) AS BIGINT) AS t1,
      |               CAST(SUM(n2_at) AS BIGINT) AS t2 FROM byt),
      |cum AS (
      |  SELECT t, n1_at, n2_at, d1, d2,
      |    SUM(n1_at) OVER w AS c1, SUM(n2_at) OVER w AS c2
      |  FROM byt
      |  WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)),
      |terms AS (
      |  SELECT d1, d2, t1, t2,
      |    t1 - c1 + n1_at AS r1, t2 - c2 + n2_at AS r2
      |  FROM cum CROSS JOIN tot),
      |agg AS (
      |  SELECT t1, t2,
      |    CAST(SUM(d1) AS BIGINT) AS o1,
      |    CAST(SUM(d2) AS BIGINT) AS o2,
      |    CAST(SUM(CASE WHEN d1 + d2 > 0 AND r1 + r2 > 0
      |      THEN CAST(CAST(d1 + d2 AS HUGEINT) * r1 * 1000000
      |        // (r1 + r2) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS e1_e6,
      |    CAST(SUM(CASE WHEN d1 + d2 > 0 AND r1 + r2 > 1
      |      THEN CAST(CAST(d1 + d2 AS HUGEINT) * r1 * r2
      |          * (r1 + r2 - d1 - d2) * 1000000
      |        // (CAST(r1 + r2 AS HUGEINT) * (r1 + r2)
      |          * (r1 + r2 - 1)) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS v_e6
      |  FROM terms GROUP BY t1, t2)
      |SELECT t1 AS n_a, t2 AS n_b, o1, o2,
      |  ROUND(CAST(e1_e6 AS DOUBLE) / 1e6, 4) AS e1,
      |  CASE WHEN v_e6 > 0
      |    THEN ROUND(CAST(o1 * 1000000 - e1_e6 AS DOUBLE)
      |      * (o1 * 1000000 - e1_e6)
      |      / (CAST(v_e6 AS DOUBLE) * 1000000), 4)
      |  END AS chi2,
      |  CASE WHEN t1 + t2 > 40000000
      |    THEN CAST(error('q_logrank: at-risk counts exceed the exact-decision domain') AS INT)
      |    WHEN v_e6 > 0
      |    THEN CAST(CAST(o1 * 1000000 - e1_e6 AS HUGEINT)
      |      * (o1 * 1000000 - e1_e6)
      |      >= CAST(3841459 AS HUGEINT) * v_e6 AS INT)
      |    ELSE 0 END AS significant
      |FROM agg""".stripMargin

  /** One oracle for both growth-accounting twins (`q_growth_accounting`
    * batch ledger, `stream_growth` live complete-mode activity state). */
  val GrowthOracle: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, day,
      |    LAG(day) OVER w AS prev, LEAD(day) OVER w AS next
      |  FROM act
      |  WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |classed AS (
      |  SELECT day,
      |    CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_new,
      |    CAST(SUM(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_retained,
      |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < day - 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM flagged GROUP BY day),
      |churn AS (
      |  SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS n_churned
      |  FROM flagged
      |  WHERE next IS NULL OR next > day + 1
      |  GROUP BY day + 1),
      |horizon AS (SELECT MAX(day) AS maxd FROM act),
      |ledger AS (
      |  SELECT COALESCE(c.day, ch.day) AS day,
      |    COALESCE(n_new, 0) AS n_new,
      |    COALESCE(n_retained, 0) AS n_retained,
      |    COALESCE(n_resurrected, 0) AS n_resurrected,
      |    COALESCE(n_churned, 0) AS n_churned
      |  FROM classed c FULL OUTER JOIN churn ch ON c.day = ch.day)
      |SELECT day, n_new, n_retained, n_resurrected, n_churned,
      |  CASE WHEN n_churned > 0
      |    THEN ROUND(CAST(n_new + n_resurrected AS DOUBLE)
      |      / n_churned, 4)
      |  END AS quick_ratio
      |FROM ledger CROSS JOIN horizon
      |WHERE day <= maxd
      |ORDER BY day""".stripMargin

  val ObfOracle: String =
    s"""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
             |bounds AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM ev),
             |per AS (
             |  SELECT user_id % 2 = 0 AS grp_a, MIN(us) AS first_us,
             |    MIN(CASE WHEN event_type = 'purchase' THEN us END) AS conv_us
             |  FROM ev GROUP BY user_id),
             |looks AS (
             |  SELECT grp_a, first_us, conv_us, look,
             |    mn + (mx - mn) * look // 4 AS cut
             |  FROM per CROSS JOIN bounds
             |  CROSS JOIN (SELECT unnest(range(1, 5)) AS look)),
             |g AS (
             |  SELECT look,
             |    CAST(SUM(CASE WHEN grp_a AND first_us <= cut
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN grp_a AND conv_us <= cut
             |      THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
             |    CAST(SUM(CASE WHEN NOT grp_a AND first_us <= cut
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |    CAST(SUM(CASE WHEN NOT grp_a AND conv_us <= cut
             |      THEN 1 ELSE 0 END) AS BIGINT) AS x_b,
             |    list_extract([${Shared.ObfBoundsE6.mkString(", ")}], look)
             |      AS bound_e6
             |  FROM looks GROUP BY look),
             |scored AS (
             |  SELECT look, n_a, x_a, n_b, x_b, bound_e6,
             |    CASE WHEN n_a > 0 AND n_b > 0 AND x_a + x_b > 0
             |        AND x_a + x_b < n_a + n_b THEN
             |      ROUND(POW(CAST(x_a * n_b - x_b * n_a AS DOUBLE), 2) * (n_a + n_b)
             |        / (CAST(n_a AS DOUBLE) * n_b * (x_a + x_b)
             |           * (n_a + n_b - x_a - x_b)), 4) END AS z2,
             |    CASE WHEN n_a > 0 AND n_b > 0 AND x_a + x_b > 0
             |        AND x_a + x_b < n_a + n_b THEN
             |      CAST(CAST(x_a * n_b - x_b * n_a AS HUGEINT)
             |          * (x_a * n_b - x_b * n_a) * (n_a + n_b) * 1000000
             |        >= CAST(bound_e6 AS HUGEINT) * n_a * n_b
             |          * (x_a + x_b) * (n_a + n_b - x_a - x_b) AS INT)
             |    END AS reject
             |  FROM g)
             |SELECT look, n_a, x_a, n_b, x_b, bound_e6, z2, reject,
             |  MAX(COALESCE(reject, 0)) OVER (ORDER BY look
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS stopped
             |FROM scored ORDER BY look""".stripMargin

  /** One oracle for both Page-Hinkley twins (q_page_hinkley batch,
    * stream_page_hinkley live drift alarm). */
  val PageHinkleyOracle: String =
    """WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
             |  FROM events GROUP BY 1),
             |idx AS (
             |  SELECT d, x, ROW_NUMBER() OVER (ORDER BY d) AS i,
             |    SUM(x) OVER (ORDER BY d
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS si
             |  FROM daily),
             |tot AS (
             |  SELECT (SUM(x) // COUNT(*)) // 20 AS delta,
             |    (SUM(x) // COUNT(*)) * 2 AS lambda
             |  FROM daily),
             |dev AS (
             |  SELECT d, x, i, si, delta, lambda,
             |    x - si // i - delta AS devt
             |  FROM idx CROSS JOIN tot),
             |m AS (
             |  SELECT d, x, lambda,
             |    SUM(devt) OVER (ORDER BY d
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
             |  FROM dev),
             |mm AS (
             |  SELECT d, x, lambda, mt,
             |    MIN(mt) OVER (ORDER BY d
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mmin
             |  FROM m)
             |SELECT d, x, CAST(mt AS BIGINT) AS mt,
             |  CAST(mt - mmin AS BIGINT) AS gap,
             |  CAST(lambda AS BIGINT) AS lambda,
             |  (mt - mmin > lambda) AS alarm
             |FROM mm ORDER BY d""".stripMargin

}
