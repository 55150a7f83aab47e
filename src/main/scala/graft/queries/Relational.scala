package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Relational capability surface (SURVEY §2.4): the reference delegates
  * all relational algebra to the database it scans (arbitrary SQL via
  * `DbalSourceDriver::setStatement`,
  * `/root/reference/src/Drivers/Source/DbalSourceDriver.php:105-113`);
  * in our engine the same capabilities are native Catalyst plans. Each
  * query here is written with the DataFrame API (codegen'd, pushdown-
  * friendly) and verified against a DuckDB oracle.
  */
object Relational {

  /** The growth-accounting ledger over a distinct (user_id, day)
    * activity frame — shared by the batch gate and its live
    * complete-mode twin (`stream_growth`), so both compute the same
    * read-out plan tail on their respective states.
    */
  private[queries] def growthLedger(act: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("day"))
    val flagged = act
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("next", lead(col("day"), 1).over(w))
    val classed = flagged.groupBy(col("day")).agg(
      sum(when(col("prev").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("prev") === col("day") - 1, 1L).otherwise(0L))
        .as("n_retained"),
      sum(when(col("prev").isNotNull && col("prev") < col("day") - 1,
        1L).otherwise(0L)).as("n_resurrected"))
    val churn = flagged
      .filter(col("next").isNull || col("next") > col("day") + 1)
      .select((col("day") + 1).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_churned"))
    val horizon = act.agg(max(col("day")).as("maxd"))
    classed.join(churn, Seq("day"), "full_outer")
      .crossJoin(broadcast(horizon))
      .filter(col("day") <= col("maxd"))
      .select(col("day"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .withColumn("quick_ratio",
        when(col("n_churned") > 0, round(
          (col("n_new") + col("n_resurrected")).cast("double") /
            col("n_churned"), 4)))
      .orderBy(col("day"))
  }
  import Tables._

  /** Integer cents: exact, order-independent sums in both engines. */
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  /** Hot-basket cap for the market-basket edge generator (the df-cut
    * pattern of `ops/Dedup.scala`'s hot-shingle cut, enforced — not
    * advisory): baskets with more than this many distinct parts are
    * dropped before pairing, bounding the per-order self-join to
    * C(cap,2) pairs per order regardless of corpus pathology. The cap
    * BITES on this corpus — ~2.2% of baskets exceed 8 parts at every
    * SF — so the cut path is continuously driver-verified. */
  private[queries] val BasketCap = 8

  /** Emission gate: the measured dropped-basket fraction must clear
    * this bound (2× margin over the ~2.2% measured at sf0.001/0.01/
    * 0.1) or the query emits nothing. The oracle replays the identical
    * gate, so a corpus where the cut removes too much signal fails
    * loudly on BOTH engines instead of silently under-reporting. */
  private[queries] val BasketDropBound = 0.05

  /** q_item_cf_cut's min-support floor: co-purchase edges below this
    * support are cut, and (Apriori) items in fewer kept baskets than
    * this can be dropped before the pair join — lossless w.r.t. the
    * floored edge set because support(p1,p2) ≤ min(c1,c2). */
  private[queries] val MinCfSupport = 3

  /** Support ≥ 2 co-purchase edges with the hot-basket cut enforced.
    * ONE co-partitioned l_orderkey exchange feeds the distinct; the
    * basket-size agg and the pairing self-join reuse its partitioning. */
  private def cappedBasketEdges(spark: SparkSession, sf: String): DataFrame = {
    val items = load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val bsz = items.groupBy(col("l_orderkey")).agg(count(lit(1)).as("bsz"))
    val kept = items
      .join(bsz.filter(col("bsz") <= BasketCap), Seq("l_orderkey"))
      .select(col("l_orderkey"), col("l_partkey"))
    kept.as("a").join(kept.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
  }

  /** Applies the dropped-fraction emission gate ONCE to a query's final
    * (post-aggregation, small) output: a one-row aggregate broadcast —
    * a ScalarGateJoin, constant cost at any scale, and a single
    * nested-loop node in the plan instead of one per kept-table
    * reference. */
  private def gateOnBasketDrop(spark: SparkSession, sf: String,
      out: DataFrame): DataFrame = {
    val items = load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val gate = items.groupBy(col("l_orderkey")).agg(count(lit(1)).as("bsz"))
      .agg((sum(when(col("bsz") > BasketCap, 1L).otherwise(0L)) /
        count(lit(1))).as("dropped_frac"))
    val cols = out.columns.map(col)
    out.crossJoin(gate)
      .filter(col("dropped_frac") <= BasketDropBound)
      .select(cols.toIndexedSeq: _*)
  }

  /** DuckDB replay of the identical cut + gate — shared by the
    * q_basket_pairs and q_triangle_count oracles. */
  private val CappedEdgeSql =
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |bsz AS (SELECT l_orderkey, COUNT(*) AS bsz FROM items GROUP BY 1),
      |gate AS (SELECT SUM(CASE WHEN bsz > $BasketCap THEN 1 ELSE 0 END) * 1.0
      |           / COUNT(*) AS dropped_frac FROM bsz),
      |kept AS (
      |  SELECT i.l_orderkey, i.l_partkey
      |  FROM items i JOIN bsz USING (l_orderkey)
      |  WHERE bsz <= $BasketCap),
      |e AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS support
      |  FROM kept a JOIN kept b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  private val bucketedCache = scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** orders + lineitem written once per sfDir as bucketed/sorted tables
    * on the join key (8 buckets) — co-located storage for the
    * shuffle-free join query. Bucketing is an ingest-time layout
    * decision: the files live at a stable path and are re-registered
    * (not rewritten) by later sessions; the write itself is spread over
    * 8 tasks by pre-partitioning on the bucket key.
    */
  private[queries] def bucketedTables(spark: SparkSession, sf: String): (String, String) =
    bucketedCache.getOrElseUpdate(sf, {
      val tag = math.abs(sf.hashCode).toString
      val ordersT = s"orders_b_$tag"
      val liT = s"lineitem_b_$tag"
      def ensure(table: String, src: String, key: String): Unit = {
        val dir = s"${Tables.stableScratch(s"graft_bucketed_$tag")}/$src"
        if (new java.io.File(dir, "_SUCCESS").exists()) {
          val schema = spark.read.parquet(dir).schema.toDDL
          spark.sql(s"DROP TABLE IF EXISTS $table")
          spark.sql(
            s"""CREATE TABLE $table ($schema) USING parquet
               |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
               |LOCATION '$dir'""".stripMargin)
        } else
          load(spark, sf, src).repartition(8, col(key)).write
            .mode("overwrite")
            .bucketBy(8, key).sortBy(key)
            .option("path", dir).saveAsTable(table)
      }
      ensure(ordersT, "orders", "o_orderkey")
      ensure(liT, "lineitem", "l_orderkey")
      (ordersT, liT)
    })

  private val partitionedCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** events written once per sfDir as a date-partitioned table (Hive
    * layout) — the input for the partition-pruning query. Stable path,
    * reused across sessions; write parallelized across dates.
    */
  private[queries] def partitionedEventsDir(spark: SparkSession, sf: String): String =
    partitionedCache.getOrElseUpdate(sf, {
      val tag = math.abs(sf.hashCode).toString
      val base = Tables.stableScratch(s"graft_part_$tag") + "/events_by_date"
      if (!new java.io.File(base, "_SUCCESS").exists())
        load(spark, sf, "events")
          .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
          .repartition(col("event_date"))
          .write.mode("overwrite").partitionBy("event_date").parquet(base)
      base
    })

  val defs: Seq[QueryDef] = Seq(

    // TPC-H Q1 shape: scan-heavy grouped aggregation with pushed filter.
    QueryDef("q1_pricing_summary",
      (spark, sf) => {
        val li = load(spark, sf, "lineitem")
        li.filter(col("l_shipdate") <= lit("1998-09-02"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
            sum(cents(col("l_extendedprice")) * (lit(100) - round(col("l_discount") * 100).cast("long"))).as("sum_disc_e4"),
            sum(cents(col("l_extendedprice")) * (lit(100) - round(col("l_discount") * 100).cast("long"))
              * (lit(100) + round(col("l_tax") * 100).cast("long"))).as("sum_charge_e6"),
            (sum(col("l_quantity").cast("long")).cast("double") / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_e4,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) * (100 + CAST(ROUND(l_tax*100) AS BIGINT))) AS BIGINT) AS sum_charge_e6,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty,
             |  COUNT(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      bench = true),

    // TPC-H Q3 shape: 3-way join + grouped agg + top-k. customer is the
    // small side → broadcast; orders⋈lineitem shuffles on orderkey once.
    QueryDef("q3_shipping_priority",
      (spark, sf) => {
        val c = load(spark, sf, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = load(spark, sf, "orders").filter(col("o_orderdate") < lit("2000-03-15"))
        val l = load(spark, sf, "lineitem").filter(col("l_shipdate") > lit("1995-03-15"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(sum(cents(col("l_extendedprice")) * (lit(100) - round(col("l_discount") * 100).cast("long"))).as("revenue_e4"))
          .select(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
            col("revenue_e4"))
          .orderBy(col("revenue_e4").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '2000-03-15'
             |  AND l_shipdate > TIMESTAMP '1995-03-15'
             |GROUP BY l_orderkey, o_orderdate
             |ORDER BY revenue_e4 DESC, l_orderkey LIMIT 10""".stripMargin),
      bench = true),

    // 5-way star join: dims all broadcast; single shuffle for the agg.
    QueryDef("q_star_join",
      (spark, sf) => {
        val l = load(spark, sf, "lineitem")
        val s = load(spark, sf, "supplier")
        val n = load(spark, sf, "nation")
        val r = load(spark, sf, "region")
        l.join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
          .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(cents(col("l_extendedprice"))).as("volume_cents"),
            count(lit(1)).as("n_items"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""SELECT r_name, n_name,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS volume_cents,
             |  COUNT(*) AS n_items
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
      bench = true),

    // Window functions: rank within partition + running sum.
    QueryDef("q_window_rank",
      (spark, sf) => {
        val o = load(spark, sf, "orders")
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        o.select(col("o_custkey"), col("o_orderkey"),
            cents(col("o_totalprice")).as("price_cents"),
            row_number().over(w).as("rn"),
            sum(cents(col("o_totalprice"))).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("running_cents"))
          .filter(col("rn") <= 3)
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""SELECT * FROM (
             |  SELECT o_custkey, o_orderkey,
             |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_cents,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
             |    CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
             |  FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
      bench = true),

    // Sort + limit (top-k): Spark's TakeOrderedAndProject, no full sort.
    QueryDef("q_topk_orders",
      (spark, sf) => load(spark, sf, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
        .orderBy(col("price_cents").desc, col("o_orderkey"))
        .limit(25),
      Some("""SELECT o_orderkey, CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_cents
             |FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 25""".stripMargin)),

    // Grouped top-k through the engine's OWN physical operator
    // (plans.TopKPerKey: LogicalPlan + SparkStrategy + two-phase
    // SparkPlan): top-3 orders per customer by price. The window
    // formulation sorts every customer's orders in full and shuffles
    // every row; the operator keeps a bounded heap of 3 per key and its
    // partial phase reduces each partition BEFORE the exchange, so the
    // shuffle carries at most 3·customers·partitions rows. Exact — the
    // oracle is the plain ROW_NUMBER form.
    QueryDef("q_topk_per_key",
      (spark, sf) => graft.plans.GroupedTopK(
          load(spark, sf, "orders")
            .select(col("o_custkey"), col("o_orderkey"),
              cents(col("o_totalprice")).as("price_cents")),
          keys = Seq("o_custkey"),
          orderBy = Seq(("price_cents", false), ("o_orderkey", true)),
          k = 3)
        .orderBy(col("o_custkey"), col("price_cents").desc, col("o_orderkey")),
      Some("""SELECT o_custkey, o_orderkey, price_cents FROM (
             |  SELECT o_custkey, o_orderkey,
             |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_cents,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey
             |      ORDER BY CAST(ROUND(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS rn
             |  FROM orders) t
             |WHERE rn <= 3
             |ORDER BY o_custkey, price_cents DESC, o_orderkey""".stripMargin)),

    // Set operations: UNION / INTERSECT / EXCEPT.
    QueryDef("q_set_ops",
      (spark, sf) => {
        val o = load(spark, sf, "orders")
        val big = o.filter(col("o_totalprice") > 150000).select(col("o_custkey"))
        val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
        val both = big.intersect(urgent).withColumn("tag", lit("both"))
        val onlyBig = big.except(urgent).withColumn("tag", lit("only_big"))
        both.unionByName(onlyBig).orderBy(col("tag"), col("o_custkey"))
      },
      Some("""WITH big AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 150000),
             |urgent AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
             |SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM big INTERSECT SELECT * FROM urgent)
             |UNION ALL
             |SELECT o_custkey, 'only_big' AS tag FROM (SELECT * FROM big EXCEPT SELECT * FROM urgent)
             |ORDER BY tag, o_custkey""".stripMargin)),

    // Bag-semantics set ops — the ALL variants q_set_ops' distinct forms
    // can't express: INTERSECT ALL keeps min(m_a, m_b) copies per value
    // and EXCEPT ALL max(0, m_a − m_b), the SQL-standard multiset
    // algebra (Spark plans both as aggregates over a replication
    // counter, no row explosion). The two input multisets OVERLAP
    // (even-user rows with value > 50 sit in both), so the
    // multiplicity arithmetic actually bites; results fold to
    // per-type counts, proving the multiplicities, not just membership.
    QueryDef("q_set_ops_all",
      (spark, sf) => {
        val e = load(spark, sf, "events")
        val a = e.filter(col("user_id") % 2 === 0).select(col("event_type"))
        val b = e.filter(col("value") > 50).select(col("event_type"))
        val inter = a.intersectAll(b).groupBy(col("event_type"))
          .agg(count(lit(1)).as("n")).withColumn("tag", lit("intersect_all"))
        val exc = a.exceptAll(b).groupBy(col("event_type"))
          .agg(count(lit(1)).as("n")).withColumn("tag", lit("except_all"))
        inter.unionByName(exc)
          .select(col("tag"), col("event_type"), col("n"))
          .orderBy(col("tag"), col("event_type"))
      },
      Some("""WITH a AS (SELECT event_type FROM events WHERE user_id % 2 = 0),
             |b AS (SELECT event_type FROM events WHERE value > 50),
             |i AS (SELECT event_type FROM a INTERSECT ALL SELECT event_type FROM b),
             |x AS (SELECT event_type FROM a EXCEPT ALL SELECT event_type FROM b)
             |SELECT 'intersect_all' AS tag, event_type, COUNT(*) AS n FROM i GROUP BY 2
             |UNION ALL
             |SELECT 'except_all' AS tag, event_type, COUNT(*) AS n FROM x GROUP BY 2
             |ORDER BY tag, event_type""".stripMargin)),

    // Correlated LATERAL subquery — the SQL-surface form of per-group
    // top-n (the DataFrame/TopKPerKey formulations are pinned
    // elsewhere; this gates the SQL dialect itself): for every nation,
    // its 2 richest customers via a correlated ORDER BY … LIMIT
    // lateral. Identical text runs in both engines.
    QueryDef("q_lateral_topn",
      (spark, sf) => {
        Tables.registerViews(spark, sf)
        spark.sql(
          """SELECT n.n_name, t.c_custkey, t.bal_cents
            |FROM nation n,
            |LATERAL (SELECT c_custkey,
            |           CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
            |         FROM customer WHERE c_nationkey = n.n_nationkey
            |         ORDER BY bal_cents DESC, c_custkey LIMIT 2) t
            |ORDER BY n.n_name, t.bal_cents DESC, t.c_custkey""".stripMargin)
      },
      Some("""SELECT n.n_name, t.c_custkey, t.bal_cents
             |FROM nation n,
             |LATERAL (SELECT c_custkey,
             |           CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
             |         FROM customer WHERE c_nationkey = n.n_nationkey
             |         ORDER BY bal_cents DESC, c_custkey LIMIT 2) t
             |ORDER BY n.n_name, t.bal_cents DESC, t.c_custkey""".stripMargin)),

    // Grouping sets via ROLLUP (region → nation → total).
    QueryDef("q_rollup",
      (spark, sf) => {
        val c = load(spark, sf, "customer")
        val n = load(spark, sf, "nation")
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .rollup(col("n_name"))
          .agg(count(lit(1)).as("n_customers"),
            sum(cents(col("c_acctbal"))).as("bal_cents"))
          .select(coalesce(col("n_name"), lit("ALL")).as("n_name"),
            col("n_customers"), col("bal_cents"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT COALESCE(n_name, 'ALL') AS n_name, COUNT(*) AS n_customers,
             |  CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS BIGINT) AS bal_cents
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY ROLLUP(n_name) ORDER BY n_name""".stripMargin)),

    // Distinct aggregation.
    QueryDef("q_distinct_agg",
      (spark, sf) => load(spark, sf, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS distinct_parts,
             |  COUNT(DISTINCT l_suppkey) AS distinct_supps, COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Scalar function library: string/date/math, row-level.
    QueryDef("q_scalar_funcs",
      (spark, sf) => load(spark, sf, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          length(col("p_name")).as("name_len"),
          substring(col("p_type"), 1, 5).as("type5"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          (col("p_size") % 7).as("size_mod"),
          abs(col("p_size") - 25).as("size_dist"),
          when(col("p_retailprice") > 1500, "premium").otherwise("standard").as("tier"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, UPPER(p_name) AS name_upper,
             |  CAST(LENGTH(p_name) AS INT) AS name_len, SUBSTR(p_type, 1, 5) AS type5,
             |  CONCAT_WS('-', p_brand, p_type) AS brand_type,
             |  CAST(p_size % 7 AS INT) AS size_mod, CAST(ABS(p_size - 25) AS INT) AS size_dist,
             |  CASE WHEN p_retailprice > 1500 THEN 'premium' ELSE 'standard' END AS tier
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // Semi/anti joins (EXISTS / NOT EXISTS).
    QueryDef("q_semi_anti",
      (spark, sf) => {
        val c = load(spark, sf, "customer")
        val o = load(spark, sf, "orders")
        val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey")).withColumn("status", lit("active"))
        val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey")).withColumn("status", lit("inactive"))
        withOrders.unionByName(without).orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, 'active' AS status FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |UNION ALL
             |SELECT c_custkey, 'inactive' AS status FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // JSON extraction from the events.props payload column.
    QueryDef("q_json_extract",
      (spark, sf) => load(spark, sf, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k") > 90)
        .orderBy(col("event_id")),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
             |ORDER BY event_id""".stripMargin)),

    // Lateral explode (Generator): words per document.
    QueryDef("q_explode_words",
      (spark, sf) => load(spark, sf, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 20)
        .orderBy(col("word")),
      Some("""SELECT word, COUNT(*) AS n FROM (
             |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
             |  FROM documents WHERE doc_id < 50) t
             |GROUP BY word HAVING COUNT(*) >= 20 ORDER BY word""".stripMargin)),

    // Event-time hourly tumbling window over the events table — the batch
    // shape of the streaming windowed aggregation (§streaming).
    QueryDef("q_time_window",
      (spark, sf) => load(spark, sf, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .orderBy(col("hour"), col("event_type")),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
             |  COUNT(*) AS n_events,
             |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
             |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
      bench = true),

    // Sessionization: lag-gap > 30 min starts a new session per user.
    // Forward-fill / gap-fill (last_value IGNORE NULLS): sparse
    // sensor-style readings (value observed only on 'purchase' events)
    // carried forward per user in event-time order — the SAME-stream
    // fill the as-of join family doesn't cover (that's a cross-stream
    // lookup). Integer cents keep the filled reading engine-exact; one
    // window = one hash exchange on user_id, no global sort — at 100 TB
    // this is embarrassingly parallel per user key.
    QueryDef("q_gap_fill",
      (spark, sf) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        load(spark, sf, "events")
          .withColumn("reading_cents",
            when(col("event_type") === "purchase", Shared.cents(col("value"))))
          .select(col("event_id"), col("user_id"), col("reading_cents"),
            last(col("reading_cents"), ignoreNulls = true).over(w).as("filled_cents"))
          .orderBy(col("event_id"))
      },
      Some(Shared.GapFillOracle)),

    QueryDef("q_sessionize",
      (spark, sf) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        load(spark, sf, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1).otherwise(0))
          .withColumn("session_id", sum(col("new_session")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"))
          .groupBy(col("user_id"))
          .agg(max(col("session_id")).cast("long").as("n_sessions"),
            max(col("n_events")).as("max_session_events"))
          .orderBy(col("user_id"))
      },
      Some("""WITH marked AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN LAG(ts) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT user_id,
             |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM marked),
             |per_sess AS (
             |  SELECT user_id, session_id, COUNT(*) AS n_events FROM sess GROUP BY 1, 2)
             |SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
             |  MAX(n_events) AS max_session_events
             |FROM per_sess GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Conversion funnel (signup → view → click → purchase, in event-time
    // order per user). The classic formulation is a per-stage self-join
    // (one shuffle PER stage); here running window flags compute
    // "reached stage k by this row" in ONE hash exchange on user_id —
    // the four same-spec window passes chain on each other's flag but
    // share the single partition sort, the per-user reduce reuses the
    // window's partitioning, and only the final one-row stage report
    // crosses the wire. Linear in events at 100 TB, no stage joins.
    QueryDef("q_funnel",
      (spark, sf) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def reached(t: String, prevFlag: Option[String]) = {
          val cond = prevFlag
            .map(p => col("event_type") === t && col(p) === 1)
            .getOrElse(col("event_type") === t)
          max(when(cond, 1).otherwise(0)).over(w)
        }
        load(spark, sf, "events")
          .withColumn("f1", reached("signup", None))
          .withColumn("f2", reached("view", Some("f1")))
          .withColumn("f3", reached("click", Some("f2")))
          .withColumn("f4", reached("purchase", Some("f3")))
          .groupBy(col("user_id"))
          .agg(max("f1").as("u1"), max("f2").as("u2"),
            max("f3").as("u3"), max("f4").as("u4"))
          .agg(sum("u1").as("users_signup"), sum("u2").as("users_view"),
            sum("u3").as("users_click"), sum("u4").as("users_purchase"))
      },
      Some(Shared.FunnelOracle)),

    // Cohort retention: cohort = integer week of a user's FIRST activity
    // (week index is pure date arithmetic off a fixed epoch — identical
    // in both engines, no locale-dependent week truncation); a cell
    // (cohort_week, week_offset) counts users from that cohort active
    // offset weeks later. Two key-local shuffles: (user, week) distinct
    // → per-user min (same user_id partitioning, join co-located) →
    // cohort-cell agg. No window, no self-join — at 100 TB the distinct
    // is the only pass over raw events.
    QueryDef("q_cohort_retention",
      (spark, sf) => {
        val weeks = load(spark, sf, "events")
          .select(col("user_id"),
            floor(datediff(col("ts").cast("date"),
              lit("2024-01-01").cast("date")) / 7).as("week"))
          .distinct()
        val cohorts = weeks.groupBy(col("user_id"))
          .agg(min(col("week")).as("cohort_week"))
        weeks.join(cohorts, "user_id")
          .groupBy(col("cohort_week"),
            (col("week") - col("cohort_week")).as("week_offset"))
          .agg(count(lit(1)).as("active_users")) // (user, week) already distinct
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some("""WITH weeks AS (
             |  SELECT DISTINCT user_id,
             |    CAST(FLOOR(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week
             |  FROM events),
             |cohorts AS (SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY 1)
             |SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
             |  COUNT(*) AS active_users
             |FROM weeks w JOIN cohorts c USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Market-basket pair mining: parts co-purchased in the same order,
    // kept at support ≥ 2. The per-order self-join is the textbook
    // candidate generator; its blow-up is Σ|basket|², so the hot-basket
    // cap is ENFORCED, not advisory (the df-cut pattern from
    // `ops/Dedup.scala`): baskets above `BasketCap` distinct parts are
    // dropped before pairing — one bot cart with 10⁵ items would emit
    // 5·10⁹ pairs in a single task otherwise — bounding work to
    // C(cap,2) pairs per order. The cut BITES on this corpus (~2.2% of
    // baskets exceed 8 parts at every SF), and the in-query gate emits
    // rows only while the measured dropped-basket fraction stays ≤
    // `BasketDropBound` (2× margin over measured), so the oracle
    // replays both the cut and the gate: the 100 TB configuration is
    // itself driver-verified.
    QueryDef("q_basket_pairs",
      (spark, sf) => gateOnBasketDrop(spark, sf,
          cappedBasketEdges(spark, sf))
        .orderBy(desc("support"), col("p1"), col("p2")),
      Some(s"""$CappedEdgeSql
             |SELECT p1, p2, support FROM e, gate
             |WHERE gate.dropped_frac <= $BasketDropBound
             |ORDER BY support DESC, p1, p2""".stripMargin)),

    // Frequent 3-itemsets under the SAME enforced hot-basket cap as the
    // pair miner — the Apriori step up: the three-way per-order
    // self-join is bounded at C(cap,3) = 56 triples per order by the
    // cap that q_basket_pairs already drives, so the classically
    // explosive stage stays linear in orders at any scale. Same
    // dropped-fraction emission gate, replayed by the oracle.
    QueryDef("q_itemsets3",
      (spark, sf) => {
        val items = load(spark, sf, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val bsz = items.groupBy(col("l_orderkey")).agg(count(lit(1)).as("bsz"))
        val kept = items
          .join(bsz.filter(col("bsz") <= BasketCap), Seq("l_orderkey"))
          .select(col("l_orderkey"), col("l_partkey"))
        val triples = kept.as("a")
          .join(kept.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
          .join(kept.as("c"), col("a.l_orderkey") === col("c.l_orderkey") &&
            col("b.l_partkey") < col("c.l_partkey"))
          .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"),
            col("c.l_partkey").as("p3"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
        gateOnBasketDrop(spark, sf, triples)
          .orderBy(desc("support"), col("p1"), col("p2"), col("p3"))
      },
      Some(s"""$CappedEdgeSql,
             |t AS (
             |  SELECT a.l_partkey p1, b.l_partkey p2, c.l_partkey p3,
             |    COUNT(*) AS support
             |  FROM kept a
             |  JOIN kept b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  JOIN kept c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
             |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2)
             |SELECT p1, p2, p3, support FROM t, gate
             |WHERE gate.dropped_frac <= $BasketDropBound
             |ORDER BY support DESC, p1, p2, p3""".stripMargin)),

    // Triangle counting on the co-purchase graph (edges = q_basket_pairs'
    // support ≥ 2 pairs), per-vertex. Degree-ordered orientation — every
    // edge directed from its lower-(degree, id) endpoint — makes each
    // triangle enumerable exactly once from its unique apex AND bounds
    // the wedge blow-up to O(m^1.5) regardless of hub skew (a raw
    // id-ordered orientation lets one celebrity vertex emit deg²
    // wedges; degree ordering is the standard fix and THE reason this
    // survives a 100 TB power-law graph). The *edge* stage inherits
    // q_basket_pairs' enforced hot-basket cap + dropped-fraction gate —
    // both quadratic stages (edge gen, wedge gen) are now bounded.
    // Three hash joins, no window, no cartesian.
    QueryDef("q_triangle_count",
      (spark, sf) => {
        val e = cappedBasketEdges(spark, sf).select(col("p1"), col("p2"))
        val deg = e.select(col("p1").as("part"))
          .unionAll(e.select(col("p2").as("part")))
          .groupBy(col("part")).agg(count(lit(1)).as("d"))
        val lower = col("d1.d") < col("d2.d") ||
          (col("d1.d") === col("d2.d") && col("p1") < col("p2"))
        val o = e
          .join(deg.as("d1"), col("p1") === col("d1.part"))
          .join(deg.as("d2"), col("p2") === col("d2.part"))
          .select(
            when(lower, col("p1")).otherwise(col("p2")).as("u"),
            when(lower, col("p2")).otherwise(col("p1")).as("v"),
            when(lower, col("d2.d")).otherwise(col("d1.d")).as("dv"))
        val w = o.as("o1").join(o.as("o2"),
            col("o1.u") === col("o2.u") &&
              (col("o1.dv") < col("o2.dv") ||
                (col("o1.dv") === col("o2.dv") && col("o1.v") < col("o2.v"))))
          .select(col("o1.u").as("tu"), col("o1.v").as("ta"), col("o2.v").as("tb"))
        val tri = w.join(o.as("o3"),
          col("ta") === col("o3.u") && col("tb") === col("o3.v"))
        gateOnBasketDrop(spark, sf,
          tri.select(explode(array(col("tu"), col("ta"), col("tb"))).as("part"))
            .groupBy(col("part")).agg(count(lit(1)).as("n_triangles")))
          .orderBy(col("part"))
      },
      Some(s"""$CappedEdgeSql,
             |deg AS (
             |  SELECT part, COUNT(*) AS d FROM (
             |    SELECT p1 AS part FROM e UNION ALL SELECT p2 FROM e)
             |  GROUP BY 1),
             |o AS (
             |  SELECT
             |    CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
             |      THEN e.p1 ELSE e.p2 END AS u,
             |    CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
             |      THEN e.p2 ELSE e.p1 END AS v,
             |    CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
             |      THEN d2.d ELSE d1.d END AS dv
             |  FROM e JOIN deg d1 ON e.p1 = d1.part JOIN deg d2 ON e.p2 = d2.part),
             |w AS (
             |  SELECT o1.u, o1.v AS a, o2.v AS b
             |  FROM o o1 JOIN o o2 ON o1.u = o2.u
             |  WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)),
             |tri AS (
             |  SELECT w.u, w.a, w.b FROM w JOIN o ON o.u = w.a AND o.v = w.b)
             |SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
             |  SELECT u AS part FROM tri
             |  UNION ALL SELECT a FROM tri
             |  UNION ALL SELECT b FROM tri), gate
             |WHERE gate.dropped_frac <= $BasketDropBound
             |GROUP BY 1 ORDER BY part""".stripMargin)),

    // Per-user behavioral transition matrix (first-order Markov counts):
    // lag(event_type) in event-time order per user, then one global
    // (prev, cur) aggregation — one user_id window exchange + one
    // 25-cell agg, linear in events at any scale.
    QueryDef("q_event_transitions",
      (spark, sf) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        load(spark, sf, "events")
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("cur_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("prev_type"), col("cur_type"))
      },
      Some("""WITH t AS (
             |  SELECT user_id, event_type,
             |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
             |  FROM events)
             |SELECT prev_type, event_type AS cur_type, COUNT(*) AS n
             |FROM t WHERE prev_type IS NOT NULL
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Rolling OLS trend: the least-squares slope of each type's hourly
    // count over its trailing 24 observed hours — the windowed
    // regression feature ("how fast is this metric actually moving")
    // that a single global fit (q_corr_fit) or an EWMA level can't
    // give. All five sufficient statistics (n, Σx, Σy, Σxy, Σx²) are
    // exact BIGINTs accumulated in ONE type-partitioned window frame
    // (five aggs share the exchange; never a single-partition window);
    // x is the absolute epoch hour (~5·10⁵), so every cross-product
    // stays < 10¹⁴ — documented headroom to 2⁶³. The slope is the one
    // final double division of the closed-form numerator/denominator;
    // partial windows (< 24 rows) are excluded so the frame size is a
    // constant both engines agree on.
    QueryDef("q_rolling_regression",
      (spark, sf) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("event_type")).orderBy(col("hx"))
          .rowsBetween(-23, 0)
        load(spark, sf, "events")
          .select(col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("hx"))
          .groupBy(col("event_type"), col("hx"))
          .agg(count(lit(1)).as("y"))
          .select(col("event_type"), col("hx"), col("y"),
            count(lit(1)).over(w).as("n"),
            sum(col("hx")).over(w).as("sx"),
            sum(col("y")).over(w).as("sy"),
            sum(col("hx") * col("y")).over(w).as("sxy"),
            sum(col("hx") * col("hx")).over(w).as("sxx"))
          .filter(col("n") === 24)
          .select(col("event_type"), col("hx"), col("y"),
            round((col("sxy") * 24 - col("sx") * col("sy")).cast("double") /
              (col("sxx") * 24 - col("sx") * col("sx")), 6).as("slope"))
          .orderBy(col("event_type"), col("hx"))
      },
      Some("""WITH hourly AS (
             |  SELECT event_type, epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
             |    CAST(COUNT(*) AS BIGINT) AS y
             |  FROM events GROUP BY 1, 2),
             |w AS (
             |  SELECT event_type, hx, y,
             |    COUNT(*) OVER win AS n,
             |    SUM(hx) OVER win AS sx, SUM(y) OVER win AS sy,
             |    SUM(hx * y) OVER win AS sxy, SUM(hx * hx) OVER win AS sxx
             |  FROM hourly
             |  WINDOW win AS (PARTITION BY event_type ORDER BY hx
             |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
             |SELECT event_type, hx, y,
             |  ROUND(CAST(sxy * 24 - sx * sy AS DOUBLE)
             |    / (sxx * 24 - sx * sx), 6) AS slope
             |FROM w WHERE n = 24 ORDER BY event_type, hx""".stripMargin)),

    // Existential sequence mining over the event log — the directed
    // "A happens before B" support table (the SPADE/funnel-discovery
    // primitive, where q_event_transitions counts only ADJACENT steps
    // and q_funnel checks one fixed path): for every ordered type pair,
    // how many users did A strictly before B (first occurrences), out
    // of how many had both at all. The corpus collapses to per-(user,
    // type) first-touch rows in ONE user-keyed shuffle; the pair
    // self-join runs co-partitioned on that key with fan-out bounded by
    // |types|² per user (≤ 25 here — the event-type vocabulary, not the
    // event count), and ties are excluded by the strict < both engines
    // share. seq_share is the one final division.
    QueryDef("q_seq_pairs",
      (spark, sf) => {
        val firsts = load(spark, sf, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(min(col("ts")).as("ft"))
        firsts.select(col("user_id"), col("event_type").as("ta"),
            col("ft").as("fa"))
          .join(firsts.select(col("user_id"), col("event_type").as("tb"),
            col("ft").as("fb")), Seq("user_id"))
          .filter(col("ta") =!= col("tb"))
          .groupBy(col("ta"), col("tb"))
          .agg(count(lit(1)).as("n_both"),
            sum(when(col("fa") < col("fb"), 1L).otherwise(0L)).as("n_seq"))
          .select(col("ta"), col("tb"), col("n_both"), col("n_seq"),
            round(col("n_seq") / col("n_both").cast("double"), 6)
              .as("seq_share"))
          .orderBy(col("ta"), col("tb"))
      },
      Some("""WITH firsts AS (
             |  SELECT user_id, event_type, MIN(ts) AS ft
             |  FROM events GROUP BY 1, 2)
             |SELECT a.event_type AS ta, b.event_type AS tb,
             |  CAST(COUNT(*) AS BIGINT) AS n_both,
             |  CAST(SUM(CASE WHEN a.ft < b.ft THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_seq,
             |  ROUND(SUM(CASE WHEN a.ft < b.ft THEN 1 ELSE 0 END)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS seq_share
             |FROM firsts a JOIN firsts b ON a.user_id = b.user_id
             |  AND a.event_type <> b.event_type
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Exponentially time-decayed counters — the feature-store freshness
    // metric ("recent activity counts double") as one scan + one
    // aggregation. The decay weight is 2^(−hours_old), hours capped at
    // 30: ages in integer micros (div, no fp), and every weight is a
    // dyadic rational with ≤30 fraction bits, so partial sums stay
    // EXACT doubles (≤53 significant bits at any realistic per-group
    // count) — order-independent and bit-identical cross-engine with
    // no rounding discipline needed. At scale this is a map-side
    // partial agg on event_type; the reference timestamp is one scalar.
    QueryDef("q_decay_counts",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
        val maxUs = ev.agg(max(expr("unix_micros(ts)"))).first().getLong(0)
        ev.select(col("event_type"),
            expr(s"least(($maxUs - unix_micros(ts)) div 3600000000, 30)").as("age_h"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(pow(lit(2.0), -col("age_h"))).as("decayed_weight"))
          .orderBy(col("event_type"))
      },
      Some(Shared.DecayOracle)),

    // Shuffle-planning skew report — the diagnostic a 100 TB operator
    // runs BEFORE picking a join strategy: per-key frequency over the
    // prospective shuffle key, hottest keys with integer permille
    // share. One partial-agg'd groupBy + TakeOrdered; the total is a
    // scalar. Feeding q_skew_salted_join's salting decision with
    // measured (not guessed) hot keys is exactly this query.
    QueryDef("q_skew_report",
      (spark, sf) => {
        val li = load(spark, sf, "lineitem")
        val total = li.count()
        li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
          .select(col("l_suppkey"), col("cnt"),
            expr(s"(cnt * 1000) div $total").as("permille"))
          .orderBy(col("cnt").desc, col("l_suppkey")).limit(10)
      },
      Some("""WITH t AS (SELECT COUNT(*) n FROM lineitem)
             |SELECT l_suppkey, COUNT(*) AS cnt,
             |  CAST(COUNT(*) * 1000 // (SELECT n FROM t) AS BIGINT) AS permille
             |FROM lineitem GROUP BY l_suppkey
             |ORDER BY cnt DESC, l_suppkey LIMIT 10""".stripMargin)),

    // CUBE grouping sets over two dimensions.
    QueryDef("q_cube",
      (spark, sf) => {
        val o = load(spark, sf, "orders")
        o.cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(cents(col("o_totalprice"))).as("total_cents"))
          .select(coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
            col("n"), col("total_cents"))
          .orderBy(col("o_orderstatus"), col("o_orderpriority"))
      },
      Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
             |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
             |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)),

    // Pivot (explicit value list ⇒ stable output columns; the oracle is
    // the portable conditional-aggregation formulation).
    QueryDef("q_pivot",
      (spark, sf) => load(spark, sf, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count().na.fill(0L)
        .orderBy(col("user_id")),
      Some("""SELECT user_id,
             |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
             |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
             |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Bucketed co-located join: both fact tables written bucketed+sorted
    // on the join key, so the join needs NO shuffle of either side
    // (asserted in PlanSpec) — the pre-partitioning strategy that makes
    // repeated big-table joins viable at 100 TB.
    QueryDef("q_bucketed_join",
      (spark, sf) => {
        val (ordersT, liT) = bucketedTables(spark, sf)
        val o = spark.table(ordersT)
        val l = spark.table(liT)
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("sum_qty"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_items,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      bench = true),

    // Partition pruning: a date-partitioned copy of events is scanned
    // with a partition predicate — the plan must prune to one partition
    // directory (asserted in PlanSpec), the result must match the
    // unpartitioned SQL filter.
    QueryDef("q_partition_pruning",
      (spark, sf) => {
        val base = partitionedEventsDir(spark, sf)
        spark.read.parquet(base)
          .filter(col("event_date") === "2024-01-03")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("value_cents"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
             |FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-03'
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // DYNAMIC partition pruning — the runtime sibling of
    // q_partition_pruning's static prune, and the flagship 100 TB scan
    // economics feature: the set of hot days comes out of a subquery
    // (top-5 days by purchase count), so no static predicate can prune
    // the fact scan. Catalyst inserts a dynamicpruningexpression on the
    // fact side's partition column (asserted in PlanSpec) and only the
    // matching partition directories are ever listed/read — at 100 TB
    // that is the difference between scanning 5 days and scanning all
    // of them. Result must match the unpartitioned join.
    QueryDef("q_dynamic_pruning",
      (spark, sf) => {
        val fact = spark.read.parquet(partitionedEventsDir(spark, sf))
        val hot = load(spark, sf, "events")
          .filter(col("event_type") === "purchase")
          .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
          .groupBy(col("event_date")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("event_date")).limit(5)
          .select(col("event_date"))
        fact.join(hot, Seq("event_date"))
          .groupBy(col("event_date"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("value_cents"))
          .orderBy(col("event_date"), col("event_type"))
      },
      Some("""WITH hot AS (
             |  SELECT strftime(ts, '%Y-%m-%d') AS event_date, COUNT(*) c
             |  FROM events WHERE event_type = 'purchase'
             |  GROUP BY 1 ORDER BY c DESC, event_date LIMIT 5)
             |SELECT h.event_date, e.event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(e.value*100) AS BIGINT)) AS BIGINT)
             |    AS value_cents
             |FROM events e JOIN hot h ON strftime(e.ts, '%Y-%m-%d') = h.event_date
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // OHLC resampling (time-series downsample): per (event_type, hour)
    // bar with open/high/low/close in integer cents and the row count
    // as volume. open/close pick the first/last event under the total
    // (ts, event_id) order via min_by/max_by over a struct key — one
    // shuffle on the bar key, no window sort, no self-join; high/low
    // are plain min/max partials.
    QueryDef("q_ohlc_bars",
      (spark, sf) => {
        load(spark, sf, "events")
          .select(col("event_type"),
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
            cents(col("value")).as("v"),
            struct(col("ts"), col("event_id")).as("ord"))
          .groupBy(col("event_type"), col("hour"))
          .agg(
            min_by(col("v"), col("ord")).as("open"),
            max(col("v")).as("high"),
            min(col("v")).as("low"),
            max_by(col("v"), col("ord")).as("close"),
            count(lit(1)).as("volume"))
          .orderBy(col("event_type"), col("hour"))
      },
      Some(Shared.OhlcOracle)),

    // Multi-touch revenue attribution: each purchase credited to the
    // user's most recent preceding click/view (last-touch) and to their
    // earliest touch on record (first-touch). ONE union + ONE keyed
    // window computes both models — the running first/last with
    // ignoreNulls over (ts, event_id) order — instead of two as-of
    // joins; a single hash shuffle on user_id, linear at any scale.
    // Purchases with no preceding touch land in the 'none' bucket, so
    // revenue is conserved across the report (AnalyticsSpec pins it).
    QueryDef("q_attribution",
      (spark, sf) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ev = load(spark, sf, "events")
          .filter(col("event_type").isin("click", "view", "purchase"))
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), cents(col("value")).as("cents"),
            when(col("event_type").isin("click", "view"), col("event_type"))
              .as("touch"))
          .withColumn("last_t", last(col("touch"), ignoreNulls = true).over(w))
          .withColumn("first_t", first(col("touch"), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
        // unpivot (model, touch) BEFORE aggregating: a union of two
        // per-model aggregates would let column pruning clone the whole
        // scan+window subtree into each branch — explode keeps it one.
        ev.select(col("cents"),
            explode(map(
              lit("first"), coalesce(col("first_t"), lit("none")),
              lit("last"), coalesce(col("last_t"), lit("none"))))
              .as(Seq("model", "touch_type")))
          .groupBy(col("model"), col("touch_type"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(col("cents")).as("revenue_cents"))
          .orderBy(col("model"), col("touch_type"))
      },
      Some(Shared.AttributionOracle)),

    // RFM customer segmentation with EXACT quintiles at scale: the
    // textbook formulation is three NTILE(5) windows with no partition
    // key — a single-task global sort, the canonical 100 TB
    // scale-killer. Rank.ntileExact computes the identical buckets
    // distributed (range-partitioned sort + O(partitions) prefix
    // offsets + integer NTILE arithmetic), and the DuckDB oracle runs
    // the real NTILE over the same total order to prove bucket-exact
    // equivalence. Recency is exact microseconds (no hour-boundary
    // truncation ambiguity); every order carries a user_id tiebreak.
    QueryDef("q_rfm",
      (spark, sf) => {
        val p = load(spark, sf, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("freq"),
            sum(cents(col("value"))).as("mon"),
            max(expr("unix_micros(ts)")).as("last_us"))
        val mx = p.agg(max(col("last_us")).as("mx_us"))
        val u = p.crossJoin(broadcast(mx))
          .withColumn("rec_us", col("mx_us") - col("last_us"))
        val r = graft.ops.Rank.ntileExact(u,
          Seq(col("rec_us"), col("user_id")), 5, "r")
        val f = graft.ops.Rank.ntileExact(r,
          Seq(col("freq").desc, col("user_id")), 5, "f")
        val m = graft.ops.Rank.ntileExact(f,
          Seq(col("mon").desc, col("user_id")), 5, "m")
        m.groupBy((col("r") * 100 + col("f") * 10 + col("m")).as("segment"))
          .agg(count(lit(1)).as("n_users"), sum(col("mon")).as("revenue_cents"))
          .orderBy(col("segment"))
      },
      Some("""WITH p AS (
             |  SELECT user_id, COUNT(*) freq,
             |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) mon,
             |    MAX(epoch_us(ts)) last_us
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |u AS (SELECT *, (SELECT MAX(last_us) FROM p) - last_us rec_us
             |      FROM p),
             |t AS (SELECT user_id, mon,
             |    NTILE(5) OVER (ORDER BY rec_us, user_id) r,
             |    NTILE(5) OVER (ORDER BY freq DESC, user_id) f,
             |    NTILE(5) OVER (ORDER BY mon DESC, user_id) m
             |  FROM u)
             |SELECT r*100 + f*10 + m AS segment, COUNT(*) AS n_users,
             |  CAST(SUM(mon) AS BIGINT) AS revenue_cents
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EXACT global quantiles at scale — the third point of the quantile
    // triangle: q_percentiles' percentile() buffers each group's whole
    // value multiset in ONE aggregation buffer (exact but memory-bound:
    // a 100 TB group OOMs the state), q_approx_quantile (GK) is
    // bounded-memory but approximate; this is exact AND bounded — a
    // distributed sort (Rank.rankGlobal: range shuffle + O(partitions)
    // offsets) then rank selection, constant memory per task at any
    // scale. Rank arithmetic is floor((n-1)·p/100)+1 (the "lower"
    // interpolation point), replayed verbatim by the oracle's
    // ROW_NUMBER join — no engine-specific quantile_disc semantics.
    // Ties: sorting by value alone is enough — the rank-k VALUE is
    // well-defined whatever order equal values land in.
    QueryDef("q_exact_quantiles",
      (spark, sf) => {
        val s = load(spark, sf, "lineitem")
          .select(cents(col("l_extendedprice")).as("v"))
        val n = s.count()
        val ranked = graft.ops.Rank.rankGlobal(s, Seq(col("v")), "rn")
        val wanted = Seq(25, 50, 75, 90, 99).map(p => (p, (n - 1) * p / 100 + 1))
        val targets = spark.createDataFrame(wanted).toDF("p", "rn")
        ranked.join(broadcast(targets), "rn")
          .select(col("p"), col("v").as("value_cents"))
          .orderBy(col("p"))
      },
      Some("""WITH s AS (SELECT CAST(ROUND(l_extendedprice*100) AS BIGINT) v
             |  FROM lineitem),
             |n AS (SELECT COUNT(*) c FROM s),
             |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) rn FROM s),
             |q AS (SELECT unnest([25, 50, 75, 90, 99]) p)
             |SELECT q.p, r.v AS value_cents
             |FROM q CROSS JOIN n JOIN r ON r.rn = (n.c - 1) * q.p // 100 + 1
             |ORDER BY q.p""".stripMargin)),

    // Quantile treatment effect — the DISTRIBUTIONAL read-out of the
    // experimentation suite (mean tests hide tail effects; QTE at
    // p10/p25/p50/p75/p90 shows WHERE the distribution moved): exact
    // per-arm quantiles of order value for BUILDING-segment customers
    // vs the rest, and their differences. The trick is ONE global
    // range-sort for BOTH arms: ranking by (arm, value) makes each
    // arm's rows a contiguous global-rank interval, so the within-arm
    // rank-k target translates to global rank k + offset(arm) — the
    // five target ranks per arm are computed from the one-row counts
    // frame in GLOBAL rank space and broadcast-joined back, meaning no
    // per-arm repartition, no corpus-wide cross join, no second sort.
    // Rank arithmetic is q_exact_quantiles' lower-point formula in
    // per-mille integers ((n_g−1)·pm div 1000 + 1 — truncating div
    // agrees across engines); ties need no tiebreak because the rank-k
    // VALUE is well-defined whatever order equal values land in.
    // Degenerate designs (an empty arm) emit zero rows on both engines.
    QueryDef("q_quantile_effect",
      (spark, sf) => {
        val j = load(spark, sf, "orders")
          .join(load(spark, sf, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(cents(col("o_totalprice")).as("v"),
            when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
              .as("g"))
        val tots = j.agg(
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"))
        val targets = tots.filter(col("n0") > 0 && col("n1") > 0)
          .select(explode(array(lit(100), lit(250), lit(500), lit(750),
            lit(900))).as("pm"), col("n0"), col("n1"))
          .select(col("pm"), explode(array(
            struct(lit(0L).as("g"),
              expr("(n0 - 1) * pm div 1000 + 1").as("rk")),
            struct(lit(1L).as("g"),
              expr("n0 + (n1 - 1) * pm div 1000 + 1").as("rk")))).as("a"))
          .select(col("pm"), col("a.g").as("g"), col("a.rk").as("rk"))
        val ranked = graft.ops.Rank.rankGlobal(j, Seq(col("g"), col("v")), "rk")
          .select(col("v"), col("rk"))
        ranked.join(broadcast(targets), "rk")
          .groupBy(col("pm"))
          .agg(max(when(col("g") === 1, col("v"))).as("q_building"),
            max(when(col("g") === 0, col("v"))).as("q_rest"))
          .select(col("pm"), col("q_building"), col("q_rest"),
            (col("q_building") - col("q_rest")).as("qte_cents"))
          .orderBy(col("pm"))
      },
      Some("""WITH j AS (
             |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
             |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |tots AS (
             |  SELECT CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
             |  FROM j),
             |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY g, v) AS rk FROM j),
             |p AS (SELECT unnest([100, 250, 500, 750, 900]) AS pm),
             |t AS (
             |  SELECT pm, CAST(0 AS BIGINT) AS g,
             |    (n0 - 1) * pm // 1000 + 1 AS rk
             |  FROM p CROSS JOIN tots WHERE n0 > 0 AND n1 > 0
             |  UNION ALL
             |  SELECT pm, CAST(1 AS BIGINT),
             |    n0 + (n1 - 1) * pm // 1000 + 1
             |  FROM p CROSS JOIN tots WHERE n0 > 0 AND n1 > 0),
             |q AS (SELECT t.pm, t.g, r.v FROM t JOIN r ON r.rk = t.rk)
             |SELECT pm,
             |  CAST(MAX(CASE WHEN g = 1 THEN v END) AS BIGINT) AS q_building,
             |  CAST(MAX(CASE WHEN g = 0 THEN v END) AS BIGINT) AS q_rest,
             |  CAST(MAX(CASE WHEN g = 1 THEN v END)
             |    - MAX(CASE WHEN g = 0 THEN v END) AS BIGINT) AS qte_cents
             |FROM q GROUP BY pm ORDER BY pm""".stripMargin)),

    // CUSUM changepoint detection over the daily event series — the
    // level-shift monitor a pipeline runs on ingest volume. The
    // classic statistic cusum_k = Σ_{i≤k}(c_i − mean) needs float
    // means; scaling by n_days makes it EXACT integers:
    // dev_k = Σ_{i≤k}(c_i·n − total) = n·Σc_i − k·total. Per type: a
    // keyed cumulative window over ~days rows (bounded groups), then
    // max_by(|dev|, earliest-day tiebreak) picks the most likely
    // changepoint. Integer end to end; one shuffle on (type, day), one
    // on type.
    QueryDef("q_changepoint",
      (spark, sf) => {
        val daily = load(spark, sf, "events")
          .groupBy(col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Window.partitionBy(col("event_type"))
        daily
          .withColumn("n_days", count(lit(1)).over(tot))
          .withColumn("total", sum(col("c")).over(tot))
          .withColumn("dev", sum(col("c") * col("n_days") - col("total")).over(w))
          .groupBy(col("event_type"))
          .agg(
            // tie on |dev| → earliest day: minimize (−|dev|, day)
            min_by(col("day"), struct((-abs(col("dev"))).as("nd"), col("day")))
              .as("peak_day"),
            max(abs(col("dev"))).as("peak_dev"),
            max(col("n_days")).as("n_days"))
          .orderBy(col("event_type"))
      },
      Some("""WITH daily AS (
             |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) c
             |  FROM events GROUP BY 1, 2),
             |t AS (
             |  SELECT event_type, day, c,
             |    COUNT(*) OVER (PARTITION BY event_type) n_days,
             |    SUM(c) OVER (PARTITION BY event_type) total
             |  FROM daily),
             |s AS (
             |  SELECT event_type, day, n_days,
             |    SUM(c * n_days - total) OVER (
             |      PARTITION BY event_type ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) dev
             |  FROM t),
             |r AS (
             |  SELECT event_type, day, ABS(dev) adev, n_days,
             |    ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY ABS(dev) DESC, day) rn
             |  FROM s)
             |SELECT event_type, day AS peak_day,
             |  CAST(adev AS BIGINT) AS peak_dev,
             |  CAST(n_days AS BIGINT) AS n_days
             |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // Time-to-convert quantiles: per user, first signup → first
    // purchase at-or-after it, then the EXACT p50/p90 of the conversion
    // lag across converters — the funnel-latency metric next to
    // q_funnel's stage counts. Durations are exact integer
    // microseconds; the quantiles come from the same
    // Rank.rankGlobal distributed sort + broadcast rank-target join as
    // q_exact_quantiles (no single-partition window, no percentile
    // buffer), so the metric stays exact AND bounded at 100 TB.
    QueryDef("q_time_to_convert",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
        val su = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id"))
          .agg(min(expr("unix_micros(ts)")).as("su"))
        val pu = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), expr("unix_micros(ts)").as("pu"))
        val d = pu.join(su, "user_id")
          .filter(col("pu") >= col("su"))
          .groupBy(col("user_id"), col("su"))
          .agg(min(col("pu")).as("first_pu"))
          .select((col("first_pu") - col("su")).as("d"))
        val n = d.count()
        val ranked = graft.ops.Rank.rankGlobal(d, Seq(col("d")), "rn")
        val targets = spark.createDataFrame(
            Seq(50, 90).map(p => (p, (n - 1) * p / 100 + 1)))
          .toDF("p", "rn")
        ranked.join(broadcast(targets), "rn")
          .select(col("p"), col("d").as("dur_us"), lit(n).as("n_converters"))
          .orderBy(col("p"))
      },
      Some("""WITH su AS (SELECT user_id, MIN(epoch_us(ts)) su FROM events
             |  WHERE event_type = 'signup' GROUP BY 1),
             |pu AS (SELECT user_id, epoch_us(ts) p FROM events
             |  WHERE event_type = 'purchase'),
             |d AS (SELECT su.user_id, MIN(p) - su AS d
             |  FROM su JOIN pu ON pu.user_id = su.user_id AND p >= su
             |  GROUP BY su.user_id, su),
             |n AS (SELECT COUNT(*) c FROM d),
             |r AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d) rn FROM d),
             |q AS (SELECT unnest([50, 90]) p)
             |SELECT q.p, r.d AS dur_us, n.c AS n_converters
             |FROM q CROSS JOIN n JOIN r ON r.rn = (n.c - 1) * q.p // 100 + 1
             |ORDER BY q.p""".stripMargin)),

    // As-of join (operator Spark lacks): for each error event, the most
    // recent signup of the same user at-or-before its timestamp —
    // union + windowed last-value (one shuffle, linear), never a
    // quadratic range join. Oracle uses DuckDB's native ASOF JOIN, so
    // two independent formulations must agree.
    QueryDef("q_asof_join",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
        graft.ops.Joins.asof(
            left = ev.filter(col("event_type") === "error")
              .select(col("event_id"), col("user_id"), col("ts")),
            right = ev.filter(col("event_type") === "signup")
              .select(col("user_id"), col("ts"), col("event_id").as("sid")),
            partitionKey = "user_id", leftTime = "ts", rightTime = "ts",
            valueCols = Map("sid" -> "signup_id"))
          .select(col("event_id"), col("user_id"), col("signup_id"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT e.event_id, e.user_id, s.sid AS signup_id
             |FROM events e ASOF LEFT JOIN
             |  (SELECT user_id, ts, event_id AS sid FROM events
             |   WHERE event_type = 'signup') s
             |  ON e.user_id = s.user_id AND e.ts >= s.ts
             |WHERE e.event_type = 'error' ORDER BY e.event_id""".stripMargin),
      bench = true),

    // As-of join with a staleness tolerance — the feature-join rule
    // real feature stores enforce ("use the latest signal, but only if
    // it is fresh enough"): the carried match is kept only when the
    // gap is ≤ 48 h, else nulled. Same union+window linear shape as
    // q_asof_join (one shuffle on the key, never a range join); the
    // tolerance is a post-filter on the carried timestamp, and ages
    // compare in integer micros. DuckDB replays it with its native
    // ASOF JOIN + the same CASE.
    QueryDef("q_asof_tolerance",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
        val tolUs = 48L * 3600L * 1000000L
        graft.ops.Joins.asof(
            left = ev.filter(col("event_type") === "error")
              .select(col("event_id"), col("user_id"), col("ts")),
            right = ev.filter(col("event_type") === "signup")
              .select(col("user_id"), col("ts"), col("event_id").as("sid"),
                col("ts").as("sts")),
            partitionKey = "user_id", leftTime = "ts", rightTime = "ts",
            valueCols = Map("sid" -> "signup_id", "sts" -> "signup_ts"))
          .withColumn("age_us",
            expr("unix_micros(ts) - unix_micros(signup_ts)"))
          .select(col("event_id"), col("user_id"),
            when(col("age_us") <= tolUs, col("signup_id")).as("fresh_signup_id"),
            when(col("age_us") <= tolUs, expr("age_us div 3600000000"))
              .as("age_h"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT e.event_id, e.user_id,
             |  CASE WHEN epoch_us(e.ts) - epoch_us(s.ts) <= 172800000000
             |    THEN s.sid END AS fresh_signup_id,
             |  CASE WHEN epoch_us(e.ts) - epoch_us(s.ts) <= 172800000000
             |    THEN (epoch_us(e.ts) - epoch_us(s.ts)) // 3600000000 END AS age_h
             |FROM events e ASOF LEFT JOIN
             |  (SELECT user_id, ts, event_id AS sid FROM events
             |   WHERE event_type = 'signup') s
             |  ON e.user_id = s.user_id AND e.ts >= s.ts
             |WHERE e.event_type = 'error' ORDER BY e.event_id""".stripMargin)),

    // Interval-coverage analytics (the sweep the range-join family
    // doesn't answer): per calendar day, how many lineitems were
    // ordered but not yet shipped. SWEEP-LINE (r21, guide §1.2 step 1 /
    // §2.3): an interval [odate, ship) is +1 at odate and −1 at ship,
    // so n_open(day) is the running sum of per-day deltas — the heavy
    // side is 2 rows per interval collapsing under map-side partial
    // aggregation to ≤ calendar-horizon cardinality. r22 (r21 verdict
    // task 4): the r21 shape evaluated the lineitem⋈orders subtree
    // THREE times (two union branches + a spine min/max agg); now each
    // interval emits both endpoint deltas through one 2-element explode
    // and the dense day spine is gone entirely — the cumulative window
    // runs over the DISTINCT DELTA DAYS only, and each [day, next_day)
    // stretch re-expands to its covered days with its constant n_open
    // (a delta-days-bounded explode). ONE scan+join subtree in the
    // plan. The single unpartitioned window is INTENTIONAL and bounded:
    // its input is at most the calendar horizon (distinct endpoint
    // days), never the corpus. Result provably identical: n_open(day) =
    // #{intervals: odate ≤ day < ship} = Σ_{d ≤ day} delta(d); the
    // running sum is constant inside [dᵢ, dᵢ₊₁); days past the last
    // delta day have n_open = 0 (every +1 has its −1); zero-coverage
    // days are dropped by the n_open > 0 filter exactly as before.
    QueryDef("q_interval_coverage",
      (spark, sf) => {
        val li = load(spark, sf, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate").cast("date").as("ship"))
        val o = load(spark, sf, "orders")
          .select(col("o_orderkey").as("l_orderkey"),
            col("o_orderdate").cast("date").as("odate"))
        val iv = li.join(o, Seq("l_orderkey"))
          .filter(col("ship") > col("odate"))
        val deltas = iv.select(explode(array(
            struct(col("odate").as("day"), lit(1L).as("d")),
            struct(col("ship").as("day"), lit(-1L).as("d")))).as("e"))
          .select(col("e.day").as("day"), col("e.d").as("d"))
          .groupBy(col("day")).agg(sum(col("d")).as("delta"))
        val w = Window.orderBy(col("day"))
        deltas
          .withColumn("n_open", sum(col("delta")).over(w))
          .withColumn("next_day", lead(col("day"), 1).over(w))
          .filter(col("n_open") > 0 && col("next_day").isNotNull)
          .select(explode(expr("sequence(day, date_sub(next_day, 1))")).as("day"),
            col("n_open"))
          .orderBy(col("day"))
      },
      Some("""SELECT CAST(d AS DATE) AS day, COUNT(*) AS n_open FROM (
             |  SELECT unnest(generate_series(CAST(o.o_orderdate AS DATE),
             |      CAST(l.l_shipdate AS DATE) - 1, INTERVAL 1 DAY)) d
             |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  WHERE CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE)) t
             |GROUP BY day ORDER BY day""".stripMargin)),

    // Time-weighted average (TWAP): each event's value holds until the
    // user's next event, so its weight is that holding duration (capped
    // at 1 h so idle gaps don't dominate). One keyed lead window — the
    // shuffle is on user_id only — then a 5-row aggregate. Integer
    // cents × integer seconds keep both sums exact and order-
    // independent; the average is one final double division of
    // identical integers, bit-exact cross-engine.
    QueryDef("q_twap",
      (spark, sf) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        load(spark, sf, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts"), cents(col("value")).as("v_cents"),
            expr("unix_micros(ts)").as("us"))
          .withColumn("next_us", lead(col("us"), 1).over(w))
          .filter(col("next_us").isNotNull)
          .withColumn("dur_s", expr("least((next_us - us) div 1000000, 3600)"))
          .groupBy(col("event_type"))
          .agg(sum(col("v_cents") * col("dur_s")).as("wsum"),
            sum(col("dur_s")).as("dur_total"))
          .withColumn("twap_cents",
            col("wsum").cast("double") / col("dur_total"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (
             |  SELECT event_type, CAST(ROUND(value*100) AS BIGINT) v,
             |    epoch_us(ts) us,
             |    LEAD(epoch_us(ts)) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id) nxt
             |  FROM events),
             |d AS (SELECT event_type, v,
             |        LEAST((nxt - us) // 1000000, 3600) dur
             |      FROM e WHERE nxt IS NOT NULL)
             |SELECT event_type,
             |  CAST(SUM(v * dur) AS BIGINT) AS wsum,
             |  CAST(SUM(dur) AS BIGINT) AS dur_total,
             |  CAST(SUM(v * dur) AS DOUBLE) / SUM(dur) AS twap_cents
             |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Latest-record-per-key (the SCD "current snapshot" pattern):
    // each user's most recent event via a keyed row_number — one shuffle
    // on the key, no self-join against a max-ts aggregate.
    QueryDef("q_latest_per_key",
      (spark, sf) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        load(spark, sf, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id").as("last_event_id"),
            col("event_type").as("last_type"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, event_id AS last_event_id, event_type AS last_type
             |FROM (SELECT user_id, event_id, event_type,
             |        ROW_NUMBER() OVER (PARTITION BY user_id
             |          ORDER BY ts DESC, event_id DESC) AS rn
             |      FROM events) t
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Outer-join semantics: customers FULL OUTER their orders — null
    // sides surviving on both ends, aggregated to presence classes.
    QueryDef("q_outer_join",
      (spark, sf) => {
        // both sides restricted so BOTH null classes genuinely occur:
        // even-keyed customers vs orders of low-keyed customers
        val c = load(spark, sf, "customer")
          .filter(col("c_custkey") % 2 === 0).select(col("c_custkey"))
        val o = load(spark, sf, "orders")
          .filter(col("o_custkey") < 700)
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
        c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
          .select(
            when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, "both")
              .when(col("c_custkey").isNotNull, "customer_only")
              .otherwise("orders_only").as("presence"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"))
          .groupBy(col("presence"))
          .agg(count(lit(1)).as("n"), sum(col("n_orders")).as("total_orders"))
          .orderBy(col("presence"))
      },
      Some("""WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0),
             |o AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders
             |      WHERE o_custkey < 700 GROUP BY 1)
             |SELECT CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 'both'
             |            WHEN c_custkey IS NOT NULL THEN 'customer_only'
             |            ELSE 'orders_only' END AS presence,
             |  COUNT(*) AS n,
             |  CAST(SUM(COALESCE(n_orders, 0)) AS BIGINT) AS total_orders
             |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
             |GROUP BY 1 ORDER BY presence""".stripMargin)),

    // Bloom-prefiltered join: the fact side is filtered by a Bloom
    // filter over the selective dimension's keys BEFORE the shuffle —
    // at 100 TB the difference between shuffling the whole fact table
    // and shuffling the matching slice. No false negatives ⇒ identical
    // result to the plain join, which is exactly what the oracle checks.
    QueryDef("q_bloom_join",
      (spark, sf) => {
        val li = load(spark, sf, "lineitem")
          .select(col("l_suppkey"), cents(col("l_extendedprice")).as("cents"))
        val supp = load(spark, sf, "supplier").filter(col("s_nationkey") === 0)
          .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
        graft.ops.Joins.bloomPrefilteredJoin(li, supp, "l_suppkey",
            expectedKeys = 100000L)
          .groupBy(col("l_suppkey"), col("s_name"))
          .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("total_cents"))
          .orderBy(col("l_suppkey"))
      },
      Some("""SELECT l_suppkey, s_name, COUNT(*) AS n_items,
             |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS total_cents
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |WHERE s_nationkey = 0
             |GROUP BY l_suppkey, s_name ORDER BY l_suppkey""".stripMargin)),

    // Approximate quantiles (GK sketch): the bounded-memory tier for
    // 100 TB percentile queries. A sketch's merge order is engine/
    // partitioning-specific so the sketch value has no SQL oracle;
    // instead the gate asserts the sketch's own guarantee in-query — the
    // GK rank error at accuracy 10000 is ≤ 1e-4, checked here with 50×
    // slack by ranking each approximate quantile against the actual
    // per-group multiset — and emits the exactly-reproducible group
    // counts. A sketch drifting past its bound drops rows and flips the
    // driver's rows/hash check (same bound-gate shape as the ANN gates).
    QueryDef("q_approx_quantile",
      (spark, sf) => {
        val li = load(spark, sf, "lineitem")
          .select(col("l_returnflag"), cents(col("l_extendedprice")).as("v"))
        val approx = li.groupBy(col("l_returnflag"))
          .agg(
            approx_percentile(col("v"), lit(0.5), lit(10000)).as("a50"),
            approx_percentile(col("v"), lit(0.95), lit(10000)).as("a95"))
        val eps = 0.005
        li.join(broadcast(approx), Seq("l_returnflag"))
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("v") < col("a50"), 1L).otherwise(0L)).as("lt50"),
            sum(when(col("v") <= col("a50"), 1L).otherwise(0L)).as("le50"),
            sum(when(col("v") < col("a95"), 1L).otherwise(0L)).as("lt95"),
            sum(when(col("v") <= col("a95"), 1L).otherwise(0L)).as("le95"))
          .filter(
            col("lt50") <= col("n") * (0.5 + eps) &&
            col("le50") >= col("n") * (0.5 - eps) &&
            col("lt95") <= col("n") * (0.95 + eps) &&
            col("le95") >= col("n") * (0.95 - eps))
          .select(col("l_returnflag"), col("n").as("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Rolling window frame: 3-order moving sum of spend per customer in
    // order-date order — the rowsBetween frame tier of the window
    // surface (rank/lag are covered by q_window_rank/q_sessionize).
    QueryDef("q_rolling_sum",
      (spark, sf) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(-2, org.apache.spark.sql.expressions.Window.currentRow)
        load(spark, sf, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            sum(cents(col("o_totalprice"))).over(w).as("rolling_cents"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_cents
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Statistical outlier detection (z-score per group) with exact
    // cross-engine determinism: mean and variance derive from INTEGER
    // cent sums (mean = Σx/n, n²σ² = n·Σx² − (Σx)² — both single
    // correctly-rounded double ops on identical integers), so the
    // |x − mean| > 1.5σ comparison evaluates bit-identically in any
    // engine. Two passes over one grouped aggregate — the profiling
    // shape, no window needed.
    QueryDef("q_outlier_zscore",
      (spark, sf) => {
        val o = load(spark, sf, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            cents(col("o_totalprice")).as("cents"))
        // Σx² and n·Σx² − (Σx)² exceed 64 bits — compute them in
        // decimal(38) (DuckDB: HUGEINT), still exact integers, and
        // convert to double only for the final comparison.
        val cdec = col("cents").cast("decimal(19,0)")
        val stats = o.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
            sum(cdec * cdec).as("s2"))
        o.join(broadcast(stats), Seq("o_orderpriority"))
          .filter(
            abs(col("cents") * col("n") - col("s")).cast("double") >
              lit(1.5) * sqrt(
                (col("n").cast("decimal(38,0)") * col("s2") -
                  col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)"))
                  .cast("double")))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_outliers"), sum(col("cents")).as("outlier_cents"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""WITH o AS (SELECT o_orderkey, o_orderpriority,
             |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS cents FROM orders),
             |stats AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(cents) AS BIGINT) AS s,
             |    SUM(CAST(cents AS HUGEINT) * cents) AS s2
             |  FROM o GROUP BY o_orderpriority)
             |SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_outliers,
             |  CAST(SUM(cents) AS BIGINT) AS outlier_cents
             |FROM o JOIN stats USING (o_orderpriority)
             |WHERE CAST(abs(cents*n - s) AS DOUBLE) >
             |  1.5 * sqrt(CAST(CAST(n AS HUGEINT)*s2 - CAST(s AS HUGEINT)*s AS DOUBLE))
             |GROUP BY o.o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Column-profile summary (the data-quality report a pipeline runs
    // before training): per column null count, distinct count, and
    // integer min/max — one pass, one aggregate row per column via a
    // stack unpivot of the per-column aggregates.
    QueryDef("q_profile_stats",
      (spark, sf) => {
        val e = load(spark, sf, "events")
        val agg = e.agg(
          count(lit(1)).as("n_rows"),
          sum(col("user_id").isNull.cast("long")).as("nulls_user"),
          countDistinct(col("user_id")).as("distinct_user"),
          min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"),
          sum(col("event_type").isNull.cast("long")).as("nulls_type"),
          countDistinct(col("event_type")).as("distinct_type"),
          sum(col("event_id").isNull.cast("long")).as("nulls_event"),
          countDistinct(col("event_id")).as("distinct_event"),
          min(col("event_id")).as("min_event"), max(col("event_id")).as("max_event"))
        agg.select(expr(
          """stack(3,
            |  'user_id', n_rows, nulls_user, distinct_user, min_user, max_user,
            |  'event_type', n_rows, nulls_type, distinct_type, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
            |  'event_id', n_rows, nulls_event, distinct_event, min_event, max_event)
            |AS (col_name, n_rows, n_nulls, n_distinct, min_val, max_val)""".stripMargin))
          .orderBy(col("col_name"))
      },
      Some("""WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) n_rows,
             |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) nu,
             |  CAST(COUNT(DISTINCT user_id) AS BIGINT) du,
             |  MIN(user_id) minu, MAX(user_id) maxu,
             |  CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) nt,
             |  CAST(COUNT(DISTINCT event_type) AS BIGINT) dt,
             |  CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) ne,
             |  CAST(COUNT(DISTINCT event_id) AS BIGINT) de,
             |  MIN(event_id) mine, MAX(event_id) maxe
             |  FROM events)
             |SELECT 'event_id' AS col_name, n_rows, ne AS n_nulls, de AS n_distinct,
             |  mine AS min_val, maxe AS max_val FROM a
             |UNION ALL
             |SELECT 'event_type', n_rows, nt, dt, NULL, NULL FROM a
             |UNION ALL
             |SELECT 'user_id', n_rows, nu, du, minu, maxu FROM a
             |ORDER BY col_name""".stripMargin)),

    // Explicit join-strategy control (the tuning surface a 100 TB join
    // needs when the planner's default is wrong): SHUFFLE_HASH hints
    // both sides into a shuffled-hash join — no sort of either side,
    // the win over sort-merge when the build side fits executor memory
    // but is too big to broadcast. Results are strategy-invariant (the
    // oracle is the plain join); PlanSpec pins the chosen operator.
    QueryDef("q_join_hints",
      (spark, sf) => {
        val li = load(spark, sf, "lineitem")
        val o = load(spark, sf, "orders").hint("shuffle_hash")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("total_qty"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_items,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // SCD type-2 history construction: collapse a change-event stream
    // (each order carries the customer's then-current priority) into
    // versioned dimension rows with [valid_from, valid_to) intervals —
    // change detection by lag, interval close by lead, version by
    // row_number. All three windows hash on the customer key alone
    // (they differ only in the post-filter), so the plan carries ONE
    // exchange; the latest-per-key query is the degenerate single-
    // version case of this shape.
    QueryDef("q_scd2_history",
      (spark, sf) => {
        val byTime = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val changes = load(spark, sf, "orders")
          .withColumn("prev", lag(col("o_orderpriority"), 1).over(byTime))
          .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
        val byVersion = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        changes
          .select(col("o_custkey"), col("o_orderpriority").as("priority"),
            col("o_orderdate").cast("timestamp").as("valid_from"),
            lead(col("o_orderdate"), 1).over(byVersion).cast("timestamp").as("valid_to"),
            row_number().over(byVersion).as("version"))
          .orderBy(col("o_custkey"), col("version"))
      },
      Some(Shared.Scd2Oracle)),

    // Running DISTINCT count per window — Spark (like most engines)
    // rejects COUNT(DISTINCT) OVER, so the engine composes it: a lag
    // over (customer, ORDER BY priority, date) flags the time-earliest
    // row of each priority, then a running sum of flags in time order.
    // Both windows partition on o_custkey alone — deliberately NOT
    // (custkey, priority) row_number, which would force a second
    // exchange: here the two window operators differ only in sort, so
    // they share ONE shuffle. DuckDB replays the identical composition.
    QueryDef("q_running_distinct",
      (spark, sf) => {
        val byPrio = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_orderpriority"), col("o_orderdate"), col("o_orderkey"))
        val running = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        load(spark, sf, "orders")
          .withColumn("first_seen",
            when(lag(col("o_orderpriority"), 1).over(byPrio).isNull ||
              lag(col("o_orderpriority"), 1).over(byPrio) =!= col("o_orderpriority"),
              1L).otherwise(0L))
          .select(col("o_orderkey"), col("o_custkey"),
            sum(col("first_seen")).over(running).as("distinct_priorities_so_far"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH flagged AS (
             |  SELECT o_orderkey, o_custkey, o_orderdate,
             |    CASE WHEN LAG(o_orderpriority) OVER w IS NULL
             |           OR LAG(o_orderpriority) OVER w <> o_orderpriority
             |      THEN 1 ELSE 0 END AS first_seen
             |  FROM orders
             |  WINDOW w AS (PARTITION BY o_custkey
             |    ORDER BY o_orderpriority, o_orderdate, o_orderkey))
             |SELECT o_orderkey, o_custkey,
             |  CAST(SUM(first_seen) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS distinct_priorities_so_far
             |FROM flagged ORDER BY o_orderkey""".stripMargin)),

    // Time-RANGE window frame (the value-range sibling of the ROWS
    // frame above): a true trailing 30-day window per customer —
    // frame membership depends on the ORDER BY value, not row offsets,
    // so ties and gaps behave correctly. Spark gets the interval as an
    // epoch-second range; DuckDB as a native INTERVAL RANGE frame.
    QueryDef("q_range_frame",
      (spark, sf) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          // NTZ → UTC timestamp → epoch seconds (session TZ pinned UTC)
          .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
          .rangeBetween(-30L * 86400, 0)
        load(spark, sf, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            count(lit(1)).over(w).as("n_last_30d"),
            sum(cents(col("o_totalprice"))).over(w).as("cents_30d"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  CAST(COUNT(*) OVER w AS BIGINT) AS n_last_30d,
             |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER w AS BIGINT) AS cents_30d
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
             |  RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
             |ORDER BY o_orderkey""".stripMargin)),

    // Forward as-of: each error matched to the EARLIEST signup at or
    // after it per user (the "next event" direction) — same union +
    // window shape, time order reversed; verified against DuckDB's
    // native ASOF with the inequality flipped.
    QueryDef("q_asof_forward",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
        graft.ops.Joins.asof(
            left = ev.filter(col("event_type") === "error")
              .select(col("event_id"), col("user_id"), col("ts")),
            right = ev.filter(col("event_type") === "signup")
              .select(col("user_id"), col("ts"), col("event_id").as("sid")),
            partitionKey = "user_id", leftTime = "ts", rightTime = "ts",
            valueCols = Map("sid" -> "next_signup_id"),
            direction = graft.ops.Joins.AsofForward)
          .select(col("event_id"), col("user_id"), col("next_signup_id"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT e.event_id, e.user_id, s.sid AS next_signup_id
             |FROM events e ASOF LEFT JOIN
             |  (SELECT user_id, ts, event_id AS sid FROM events
             |   WHERE event_type = 'signup') s
             |  ON e.user_id = s.user_id AND e.ts <= s.ts
             |WHERE e.event_type = 'error' ORDER BY e.event_id""".stripMargin)),

    // Range (interval) join without an equi key — the shape that
    // degenerates to a broadcast-nested-loop if written naively: every
    // error event paired with every signup (any user) it trails within
    // 15 minutes. Binned bucket join (ops.Joins.rangeJoin) keeps it an
    // equi-join on the time bin; PlanSpec asserts no BNLJ/cartesian.
    QueryDef("q_range_join",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id"), unix_micros(col("ts")).as("t"))
        val win = 900L * 1000000L // 15 min in µs
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("signup_id"),
            unix_micros(col("ts")).as("lo"),
            (unix_micros(col("ts")) + win).as("hi"))
        graft.ops.Joins.rangeJoin(errors, "t", signups, "lo", "hi", binSize = win)
          .select(col("event_id"), col("signup_id"))
          .orderBy(col("event_id"), col("signup_id"))
      },
      Some("""SELECT e.event_id, s.event_id AS signup_id
             |FROM events e JOIN events s
             |  ON e.ts >= s.ts AND e.ts < s.ts + INTERVAL 15 MINUTE
             |WHERE e.event_type = 'error' AND s.event_type = 'signup'
             |ORDER BY e.event_id, signup_id""".stripMargin),
      bench = true),

    // Exact percentiles (continuous interpolation) per group. p ∈
    // {.25,.5,.75} over integer cents interpolates exactly in double on
    // both engines (rank = p·(n−1), fraction ∈ {0,.25,.5,.75}), so the
    // oracle matches bit-for-bit.
    QueryDef("q_percentiles",
      (spark, sf) => load(spark, sf, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          // one percentile aggregate with an array of percentages: three
          // scalar percentile() calls each buffer the whole group's value
          // multiset independently (3× the memory and merge work for the
          // same answer — measured ~5 s → ~2 s at sf0.1)
          expr("percentile(CAST(ROUND(l_extendedprice*100) AS BIGINT), " +
            "array(0.25D, 0.5D, 0.75D))").as("ps"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("ps").getItem(0).as("p25_cents"),
          col("ps").getItem(1).as("median_cents"), col("ps").getItem(2).as("p75_cents"),
          col("n"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  quantile_cont(CAST(ROUND(l_extendedprice*100) AS BIGINT), 0.25) AS p25_cents,
             |  quantile_cont(CAST(ROUND(l_extendedprice*100) AS BIGINT), 0.5) AS median_cents,
             |  quantile_cont(CAST(ROUND(l_extendedprice*100) AS BIGINT), 0.75) AS p75_cents,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Skew-safe salted join: hot keys spread over salt sub-keys, small
    // side replicated — results must equal the plain join.
    QueryDef("q_skew_salted_join",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
        val users = ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("user_events"))
        graft.ops.Joins.saltedJoin(
            ev.select(col("event_id"), col("user_id"), col("event_type")),
            users, "user_id", saltBuckets = 8)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("user_events")).as("sum_user_events"))
          .orderBy(col("event_type"))
      },
      Some("""WITH users AS (
             |  SELECT user_id, COUNT(*) AS user_events FROM events GROUP BY user_id)
             |SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(user_events) AS BIGINT) AS sum_user_events
             |FROM events JOIN users USING (user_id)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // AQE skew-join twin of q_skew_salted_join: at 100 TB the FIRST
    // line of defense against a hot key is AQE's OptimizeSkewedJoin
    // (split the oversized shuffle partition by map-index range,
    // replicate the other side's rows), with explicit salting the
    // deterministic fallback. Skew is synthesized in-query (80% of
    // events collapse onto one key); the gate query itself is LAZY and
    // collect-free — it verifies the join's RESULT against the oracle
    // like every other gate — and the PLAN property (the adaptive
    // rewrite actually splitting the hot partition) is asserted
    // structurally in PlanAudit: the same plan re-executes under
    // Joins.withSkewTunedAqe's test-scale thresholds and the final
    // adaptive plan must contain a SortMergeJoinExec with
    // isSkewJoin=true. Three shapes the rule demands, learned by probe
    // (tools/SkewProbe): the dim side must be a plain scan (a
    // Sort-over-aggregate child breaks the rule's Sort-over-shuffle
    // pattern match); the fact side needs >1 upstream map task (splits
    // are map-index ranges — one mapper is unsplittable, so the tiny
    // single-file test scan gets an explicit repartition(16) that a
    // real multi-split input has for free); and the hot rows must not
    // compress away (a constant-key partition LZ4-compresses far
    // better than mixed ones, collapsing the SIZE ratio skew detection
    // keys on — the md5 pad, kept alive through the shuffle by
    // max(pad) in the aggregate, makes shuffle bytes track row counts
    // like real payloads do).
    QueryDef("q_skew_aqe_join",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
          .select(col("event_id"),
            when(col("event_id") % 5 =!= 0, lit(0L))
              .otherwise(pmod(col("user_id"), lit(25L))).as("skew_key"),
            col("event_type"),
            md5(col("event_id").cast("string")).as("pad"))
        val dim = load(spark, sf, "nation")
          .select(col("n_nationkey").cast("long").as("skew_key"), col("n_regionkey"))
        ev.repartition(16).join(dim, Seq("skew_key"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("n_regionkey")).as("sum_region"),
            max(col("pad")).as("max_pad"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (
             |  SELECT CASE WHEN event_id % 5 <> 0 THEN 0 ELSE user_id % 25 END AS skew_key,
             |    event_type, md5(CAST(event_id AS VARCHAR)) AS pad
             |  FROM events)
             |SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(n_regionkey) AS BIGINT) AS sum_region,
             |  MAX(pad) AS max_pad
             |FROM ev JOIN nation ON skew_key = n_nationkey
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Correlated scalar-subquery shape: customers above their nation's avg
    // balance. Expressed as join-with-aggregate (decorrelated by hand —
    // identical to what Catalyst's RewriteCorrelatedScalarSubquery does).
    QueryDef("q_above_nation_avg",
      (spark, sf) => {
        val c = load(spark, sf, "customer")
        val natAvg = c.groupBy(col("c_nationkey").as("nk"))
          .agg((sum(cents(col("c_acctbal"))).cast("double") / count(lit(1))).as("avg_bal_cents"))
        c.join(broadcast(natAvg), c("c_nationkey") === natAvg("nk"))
          .filter(cents(col("c_acctbal")).cast("double") > col("avg_bal_cents"))
          .select(col("c_custkey"))
          .orderBy(col("c_custkey"))
      },
      Some("""WITH nat AS (
             |  SELECT c_nationkey AS nk,
             |    CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)/COUNT(*) AS avg_bal_cents
             |  FROM customer GROUP BY 1)
             |SELECT c_custkey FROM customer JOIN nat ON c_nationkey = nk
             |WHERE CAST(CAST(ROUND(c_acctbal*100) AS BIGINT) AS DOUBLE) > avg_bal_cents
             |ORDER BY c_custkey""".stripMargin)),

    // Z-order (Morton) layout clustering: lineitem laid out by the
    // interleaved bits of (partkey, suppkey), then audited per fixed-width
    // z-range bucket — min/max of BOTH dimensions stay bounded per bucket,
    // which is exactly the property that makes parquet footer stats prune
    // files for predicates on either dimension at 100 TB. The z-value is a
    // pure codegen'd expression; the oracle recomputes the interleave in
    // closed form (32 arithmetic terms, generated below). z_sum must be
    // CAST to BIGINT in the oracle: DuckDB's SUM(BIGINT) widens to
    // HUGEINT, which hashes differently from Spark's long in the
    // driver harness even when values are equal.
    QueryDef("q_zorder_cluster",
      (spark, sf) => {
        val li = graft.ops.Layout.zOrderLayout(
          load(spark, sf, "lineitem"), col("l_partkey"), col("l_suppkey"),
          numFiles = 32, bits = 16)
        li.withColumn("z_bucket", shiftright(col("zval"), 16))
          .groupBy(col("z_bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
            min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"),
            sum(col("zval")).as("z_sum"))
          .orderBy(col("z_bucket"))
      },
      Some {
        val terms = (0 until 16).flatMap { i =>
          Seq(s"((l_partkey // ${1L << i}) % 2) * ${1L << (2 * i)}",
            s"((l_suppkey // ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
        }.mkString(" + ")
        s"""WITH z AS (
           |  SELECT l_partkey, l_suppkey, $terms AS zval FROM lineitem)
           |SELECT zval // 65536 AS z_bucket, COUNT(*) AS n,
           |  MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
           |  MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk,
           |  CAST(SUM(zval) AS BIGINT) AS z_sum
           |FROM z GROUP BY 1 ORDER BY z_bucket""".stripMargin
      }),

    // Arbitrary GROUPING SETS (the general form next to q_rollup/q_cube):
    // an asymmetric set list — (priority, segment), (segment), grand
    // total — planned as one Expand + single aggregate, not three
    // scans. Non-null dims let COALESCE labels disambiguate the sets
    // without relying on engine-specific grouping_id bit orders.
    QueryDef("q_grouping_sets",
      (spark, sf) => {
        val o = load(spark, sf, "orders")
        val c = load(spark, sf, "customer")
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupingSets(
            Seq(Seq(col("o_orderpriority"), col("c_mktsegment")),
              Seq(col("c_mktsegment")), Seq.empty),
            col("o_orderpriority"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            sum(cents(col("o_totalprice"))).as("price_cents"))
          .select(coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
            coalesce(col("c_mktsegment"), lit("ALL")).as("c_mktsegment"),
            col("n_orders"), col("price_cents"))
          .orderBy(col("o_orderpriority"), col("c_mktsegment"))
      },
      Some("""SELECT COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
             |  COALESCE(c_mktsegment, 'ALL') AS c_mktsegment,
             |  COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS price_cents
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY GROUPING SETS ((o_orderpriority, c_mktsegment),
             |  (c_mktsegment), ())
             |ORDER BY o_orderpriority, c_mktsegment""".stripMargin)),

    // Recursive-query capability, the SCALE path: generic semi-naive
    // transitive closure as a driver-side fixpoint loop over
    // executor-resident data — per round only the NEW pairs shuffle
    // (frontier), never the whole closure, with checkpoint-truncated
    // lineage. (Spark 4's native WITH RECURSIVE exists — q_recursive_cte
    // below pins it to the same answer — but exposes no frontier/
    // checkpoint control.) The part-key decimal trie (parent = key div
    // 10, depth ≤ ~6) gives a real multi-level hierarchy; the DuckDB
    // oracle replays it as an actual recursive CTE with BFS-minimal
    // depth.
    QueryDef("q_transitive_closure",
      (spark, sf) => {
        // the fixpoint's final frame is an eager checkpoint whose pinned
        // blocks ARE the data; Layouts owns it, so re-runs reuse it
        val closure = Layouts.memo(spark, sf, "closure") {
          val edges = Tables.load(spark, sf, "part")
            .filter(col("p_partkey") > 0)
            .select(col("p_partkey").as("node"), expr("p_partkey div 10").as("parent"))
          graft.ops.Graphs.transitiveClosure(edges)
        }
        closure
          .filter(col("node") % 97 === 0)
          .select(col("node"), col("ancestor"), col("depth").cast("int").as("depth"))
          .orderBy(col("node"), col("depth"))
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT p_partkey AS node, p_partkey // 10 AS parent
             |  FROM part WHERE p_partkey > 0),
             |c(node, ancestor, depth) AS (
             |  SELECT node, parent, 1 FROM e
             |  UNION
             |  SELECT c.node, e.parent, c.depth + 1
             |  FROM c JOIN e ON c.ancestor = e.node)
             |SELECT node, ancestor, CAST(MIN(depth) AS INT) AS depth
             |FROM c WHERE node % 97 = 0
             |GROUP BY node, ancestor ORDER BY node, depth""".stripMargin)),

    // The same ancestor closure through the engine's native RECURSIVE
    // SQL surface (Spark 4 WITH RECURSIVE) — a user can write the
    // fixpoint declaratively and get the planner's UnionLoop instead
    // of hand-rolling iteration. The hand-built semi-naive operator
    // (q_transitive_closure) stays the scale path — frontier-only
    // iteration with checkpoint-truncated lineage — while this row
    // pins that the SQL surface computes the identical answer (same
    // oracle; the part hierarchy is a DAG, so UNION ALL exploration +
    // MIN(depth) equals the set-fixpoint result).
    QueryDef("q_recursive_cte",
      (spark, sf) => {
        Tables.registerViews(spark, sf)
        spark.sql(
          """WITH RECURSIVE c(node, ancestor, depth) AS (
            |  SELECT p_partkey, p_partkey div 10, 1 FROM part WHERE p_partkey > 0
            |  UNION ALL
            |  SELECT c.node, e.parent, c.depth + 1
            |  FROM c JOIN (
            |    SELECT p_partkey AS node, p_partkey div 10 AS parent
            |    FROM part WHERE p_partkey > 0) e
            |    ON c.ancestor = e.node)
            |SELECT node, ancestor, CAST(MIN(depth) AS INT) AS depth
            |FROM c WHERE node % 97 = 0
            |GROUP BY node, ancestor ORDER BY node, depth""".stripMargin)
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT p_partkey AS node, p_partkey // 10 AS parent
             |  FROM part WHERE p_partkey > 0),
             |c(node, ancestor, depth) AS (
             |  SELECT node, parent, 1 FROM e
             |  UNION
             |  SELECT c.node, e.parent, c.depth + 1
             |  FROM c JOIN e ON c.ancestor = e.node)
             |SELECT node, ancestor, CAST(MIN(depth) AS INT) AS depth
             |FROM c WHERE node % 97 = 0
             |GROUP BY node, ancestor ORDER BY node, depth""".stripMargin)),

    // Iterative PageRank over the part⇄supplier sourcing graph (who-
    // supplies-what from lineitem; ids disambiguated onto disjoint
    // even/odd ranges). Integer micro-unit arithmetic makes a float-y
    // iterative algorithm EXACTLY oracle-able: floor division and
    // integer sums are order-independent, so DuckDB replays the three
    // unrolled iterations bit-identically.
    QueryDef("q_pagerank",
      (spark, sf) => {
        // checkpoint owned by Layouts, as in q_transitive_closure
        val ranks = Layouts.memo(spark, sf, "pagerank") {
          val edges = load(spark, sf, "lineitem")
            .select((col("l_partkey") * 2).as("src"),
              (col("l_suppkey") * 2 + 1).as("dst"))
            .distinct()
          graft.ops.Graphs.pageRankInt(edges, iters = 3)
        }
        ranks
          .filter(col("node") % 31 === 0)
          .orderBy(col("node"))
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
        s"""WITH e AS (
           |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |  FROM lineitem),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
           |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
           |${round(1)},
           |${round(2)},
           |${round(3)}
           |SELECT node, rank FROM r3 WHERE node % 31 = 0 ORDER BY node""".stripMargin
      }),

    // UNPIVOT (wide→long melt) through the engine's native Dataset.unpivot
    // — the inverse of q_pivot, and the API a user reaches for to turn a
    // metrics-wide table back into (entity, metric, value) rows. Shape:
    // one agg shuffle builds the wide table; the melt itself is a pure
    // projection (Expand), no second exchange — at 100 TB the long form
    // costs exactly the wide agg plus 3× projected rows.
    QueryDef("q_unpivot",
      (spark, sf) => {
        val o = load(spark, sf, "orders")
        val c = load(spark, sf, "customer")
        val n = load(spark, sf, "nation")
        val wide = o.join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            sum(when(col("o_orderstatus") === "F", cents(col("o_totalprice")))
              .otherwise(0L)).as("F"),
            sum(when(col("o_orderstatus") === "O", cents(col("o_totalprice")))
              .otherwise(0L)).as("O"),
            sum(when(col("o_orderstatus") === "P", cents(col("o_totalprice")))
              .otherwise(0L)).as("P"))
        wide.unpivot(Array(col("n_name")), Array(col("F"), col("O"), col("P")),
            "o_orderstatus", "total_cents")
          .orderBy(col("n_name"), col("o_orderstatus"))
      },
      Some("""WITH w AS (
             |  SELECT n_name,
             |    SUM(CASE WHEN o_orderstatus='F' THEN CAST(ROUND(o_totalprice*100) AS BIGINT) ELSE 0 END) AS f,
             |    SUM(CASE WHEN o_orderstatus='O' THEN CAST(ROUND(o_totalprice*100) AS BIGINT) ELSE 0 END) AS o,
             |    SUM(CASE WHEN o_orderstatus='P' THEN CAST(ROUND(o_totalprice*100) AS BIGINT) ELSE 0 END) AS p
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY n_name)
             |SELECT n_name, s.st AS o_orderstatus,
             |  CAST(CASE s.st WHEN 'F' THEN f WHEN 'O' THEN o ELSE p END AS BIGINT) AS total_cents
             |FROM w CROSS JOIN (VALUES ('F'),('O'),('P')) s(st)
             |ORDER BY n_name, o_orderstatus""".stripMargin)),

    // Equi-width histogram profile of a money column — the distribution
    // companion to q_profile_stats' scalar audit. Bin id is integer
    // division of exact cents by a fixed $25k width: one agg shuffle on
    // a bounded bin domain, codegen'd floor-div, no sort of the data.
    QueryDef("q_histogram",
      (spark, sf) => load(spark, sf, "orders")
        .select(cents(col("o_totalprice")).as("c"))
        .withColumn("bin", expr("c div 2500000"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("c")).as("min_cents"), max(col("c")).as("max_cents"))
        .select(col("bin"), (col("bin") * 2500000L).as("lo_cents"),
          col("n"), col("min_cents"), col("max_cents"))
        .orderBy(col("bin")),
      Some("""WITH c AS (SELECT CAST(ROUND(o_totalprice*100) AS BIGINT) AS cents FROM orders)
             |SELECT cents // 2500000 AS bin, (cents // 2500000) * 2500000 AS lo_cents,
             |  COUNT(*) AS n, MIN(cents) AS min_cents, MAX(cents) AS max_cents
             |FROM c GROUP BY 1 ORDER BY bin""".stripMargin)),

    // Robust per-entity anomaly detection: median/MAD outlier flagging of
    // each customer's order values — the z-score's (q_outlier_zscore)
    // robust sibling, immune to the outliers it hunts. Exactness
    // discipline: the LOWER median (element floor((n-1)/2) of the sorted
    // list) in integer cents, so median, MAD, and the 3×MAD comparison
    // are all integer arithmetic — no interpolation, bit-identical
    // cross-engine. Scale shape: per-customer order counts are bounded
    // (≤ tens), so sort_array(collect_list) is a bounded per-key buffer
    // — one shuffle on o_custkey builds both medians, one co-partitioned
    // join back flags rows; never a global or per-key window sort.
    QueryDef("q_outlier_mad",
      (spark, sf) => {
        val v = load(spark, sf, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            cents(col("o_totalprice")).as("cents"))
        val med = v.groupBy(col("o_custkey"))
          .agg(sort_array(collect_list(col("cents"))).as("xs"),
            count(lit(1)).as("n"))
          .select(col("o_custkey"), col("n"),
            expr("xs[CAST((n-1) div 2 AS INT)]").as("med"))
        val dev = v.join(med, "o_custkey")
          .withColumn("dev", abs(col("cents") - col("med")))
        val mad = dev.groupBy(col("o_custkey"))
          .agg(sort_array(collect_list(col("dev"))).as("ds"),
            count(lit(1)).as("n2"))
          .select(col("o_custkey"),
            expr("ds[CAST((n2-1) div 2 AS INT)]").as("mad"))
        dev.join(mad, "o_custkey")
          .filter(col("n") >= 5 && col("mad") > 0 &&
            col("dev") > col("mad") * 3)
          .select(col("o_orderkey"), col("o_custkey"),
            col("cents").as("total_cents"), col("med").as("med_cents"),
            col("mad").as("mad_cents"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH v AS (SELECT o_custkey, o_orderkey, CAST(ROUND(o_totalprice*100) AS BIGINT) AS cents FROM orders),
             |m AS (SELECT o_custkey, list_sort(list(cents)) AS xs, COUNT(*) AS n FROM v GROUP BY o_custkey),
             |mm AS (SELECT o_custkey, n, xs[CAST((n-1)//2 AS INT) + 1] AS med FROM m),
             |d AS (SELECT v.o_custkey, v.o_orderkey, v.cents, mm.med, mm.n, ABS(v.cents-mm.med) AS dev
             |      FROM v JOIN mm USING(o_custkey)),
             |md AS (SELECT o_custkey, list_sort(list(dev)) AS ds, COUNT(*) AS n2 FROM d GROUP BY o_custkey),
             |mad AS (SELECT o_custkey, ds[CAST((n2-1)//2 AS INT) + 1] AS mad FROM md)
             |SELECT d.o_orderkey, d.o_custkey, d.cents AS total_cents, d.med AS med_cents, mad.mad AS mad_cents
             |FROM d JOIN mad USING(o_custkey)
             |WHERE d.n >= 5 AND mad.mad > 0 AND d.dev > 3*mad.mad
             |ORDER BY d.o_orderkey""".stripMargin)),

    // Pearson correlation + OLS fit from ONE pass of exact integer sums
    // — the statistical-profiling companion to q_profile_stats. The five
    // sufficient statistics (Σx, Σy, Σxy, Σx², Σy²) are exact 128-bit
    // integers (decimal(38,0) ↔ HUGEINT), map-side combined like any
    // sum; corr/slope/intercept are then a fixed double expression over
    // IDENTICAL integers in both engines — same association order, so
    // bit-identical results without trusting either engine's built-in
    // corr() (whose float accumulation is partitioning-dependent).
    QueryDef("q_corr_fit",
      (spark, sf) => {
        val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
        val li = load(spark, sf, "lineitem")
          .select(col("l_returnflag"),
            col("l_quantity").cast("long").as("x"),
            cents(col("l_extendedprice")).as("y"))
        val s = li.groupBy(col("l_returnflag")).agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(dec(col("x")) * dec(col("y"))).as("sxy"),
          sum(dec(col("x")) * dec(col("x"))).as("sx2"),
          sum(dec(col("y")) * dec(col("y"))).as("sy2"))
        val num = (dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy")).cast("double")
        val dx = (dec(col("n")) * col("sx2") - dec(col("sx")) * col("sx")).cast("double")
        val dy = (dec(col("n")) * col("sy2") - dec(col("sy")) * col("sy")).cast("double")
        val slope = num / dx
        s.select(col("l_returnflag"), col("n"),
            (num / (sqrt(dx) * sqrt(dy))).as("corr"),
            slope.as("slope"),
            ((col("sy").cast("double") - slope * col("sx").cast("double")) /
              col("n").cast("double")).as("intercept"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH s AS (
             |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) n,
             |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) sx,
             |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) sy,
             |    SUM(CAST(l_quantity AS HUGEINT) * CAST(ROUND(l_extendedprice*100) AS BIGINT)) sxy,
             |    SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS BIGINT)) sx2,
             |    SUM(CAST(CAST(ROUND(l_extendedprice*100) AS BIGINT) AS HUGEINT) * CAST(ROUND(l_extendedprice*100) AS BIGINT)) sy2
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE) /
             |    (sqrt(CAST(CAST(n AS HUGEINT)*sx2 - CAST(sx AS HUGEINT)*sx AS DOUBLE)) *
             |     sqrt(CAST(CAST(n AS HUGEINT)*sy2 - CAST(sy AS HUGEINT)*sy AS DOUBLE))) AS corr,
             |  CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE) /
             |    CAST(CAST(n AS HUGEINT)*sx2 - CAST(sx AS HUGEINT)*sx AS DOUBLE) AS slope,
             |  (CAST(sy AS DOUBLE) - (CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE) /
             |    CAST(CAST(n AS HUGEINT)*sx2 - CAST(sx AS HUGEINT)*sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
             |FROM s ORDER BY l_returnflag""".stripMargin)),

    // grouping() metadata flags over CUBE — the machine-readable
    // companion to q_cube/q_grouping_sets' coalesce-to-'ALL' rendering:
    // downstream consumers route on the grouping BITS (is this row a
    // subtotal, and along which axis?) instead of string sentinels that
    // collide with real values. Same one-Expand plan; flags are pure
    // plan metadata, no extra pass.
    QueryDef("q_grouping_flags",
      (spark, sf) => load(spark, sf, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping(col("o_orderstatus")).as("g_st"),
          grouping(col("o_orderpriority")).as("g_pr"),
          count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pr"),
          col("g_st").cast("int").as("g_st"),
          col("g_pr").cast("int").as("g_pr"), col("n"))
        .orderBy(col("g_st"), col("g_pr"), col("st"), col("pr")),
      Some("""SELECT COALESCE(o_orderstatus, 'ALL') st,
             |  COALESCE(o_orderpriority, 'ALL') pr,
             |  CAST(GROUPING(o_orderstatus) AS INT) g_st,
             |  CAST(GROUPING(o_orderpriority) AS INT) g_pr,
             |  CAST(COUNT(*) AS BIGINT) n
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY g_st, g_pr, st, pr""".stripMargin)),

    // NOT IN vs NOT EXISTS under NULLs — the three-valued-logic trap
    // every migration off hand-written SQL hits: one NULL in the NOT IN
    // subquery makes the whole predicate UNKNOWN and the result EMPTY,
    // while NOT EXISTS keeps its anti-join semantics. Both forms run
    // through the engine's SQL surface against a customer list salted
    // with an explicit NULL; the pair of counts (0, real orphan count)
    // pins that the engine implements the standard — not the intuitive
    // — semantics, and the oracle replays both verbatim.
    QueryDef("q_not_in_nulls",
      (spark, sf) => {
        Tables.registerViews(spark, sf)
        spark.sql(
          """SELECT
            |  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
            |     (SELECT c_custkey FROM customer
            |      UNION ALL SELECT CAST(NULL AS BIGINT))) AS not_in_with_null,
            |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
            |     (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
            |      UNION ALL SELECT 1 WHERE CAST(NULL AS BIGINT) = o.o_custkey))
            |    AS not_exists_with_null,
            |  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
            |     (SELECT c_custkey FROM customer)) AS not_in_clean""".stripMargin)
      },
      Some("""SELECT
             |  CAST((SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
             |     (SELECT c_custkey FROM customer
             |      UNION ALL SELECT CAST(NULL AS BIGINT))) AS BIGINT) AS not_in_with_null,
             |  CAST((SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
             |     (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
             |      UNION ALL SELECT 1 WHERE CAST(NULL AS BIGINT) = o.o_custkey))
             |    AS BIGINT) AS not_exists_with_null,
             |  CAST((SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
             |     (SELECT c_custkey FROM customer)) AS BIGINT) AS not_in_clean""".stripMargin)),

    // Skyline / Pareto frontier (maximize spend AND order count) — the
    // multi-criteria shortlist query. After deduping to distinct
    // (spend, count) points, a point survives iff its count beats the
    // running maximum over all points with lexicographically greater
    // (spend desc, count desc) order — which is exactly the dominator
    // set once duplicates are removed. The running max is
    // Rank.runningMaxExclusive: range-partitioned sort + O(partitions)
    // prefix seeds, never the single-partition window the naive
    // `MAX OVER (ORDER BY …)` plans as. The oracle replays the same
    // exclusive-window formula over the same total order.
    QueryDef("q_skyline",
      (spark, sf) => {
        val pts = load(spark, sf, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(cents(col("o_totalprice"))).as("spend_cents"),
            count(lit(1)).as("n_orders"))
          .groupBy(col("spend_cents"), col("n_orders"))
          .agg(count(lit(1)).as("n_customers"))
        graft.ops.Rank.runningMaxExclusive(pts,
            Seq(col("spend_cents").desc, col("n_orders").desc),
            "n_orders", "rm")
          .filter(col("rm").isNull || col("n_orders") > col("rm"))
          .select(col("spend_cents"), col("n_orders"), col("n_customers"))
          .orderBy(col("spend_cents").desc)
      },
      Some("""WITH p AS (SELECT o_custkey, SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) spend,
             |          COUNT(*) n FROM orders GROUP BY o_custkey),
             |d AS (SELECT spend, n, CAST(COUNT(*) AS BIGINT) n_customers
             |      FROM p GROUP BY spend, n),
             |r AS (SELECT spend, n, n_customers,
             |        MAX(n) OVER (ORDER BY spend DESC, n DESC
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) rm
             |      FROM d)
             |SELECT CAST(spend AS BIGINT) AS spend_cents,
             |  CAST(n AS BIGINT) AS n_orders, n_customers
             |FROM r WHERE rm IS NULL OR n > rm
             |ORDER BY spend_cents DESC""".stripMargin)),

    // Statistical mode per group with a DETERMINED tie-break (highest
    // count, then lexicographically smallest value) — built from
    // composable pieces instead of an engine mode() whose tie rules
    // differ across engines. The window runs over the POST-AGGREGATION
    // counts table (≤ nations × segments rows), so the per-group sort
    // is trivially bounded at any corpus size.
    QueryDef("q_mode_per_group",
      (spark, sf) => {
        val counts = load(spark, sf, "customer")
          .groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("cnt"))
        val byCount = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("cnt").desc, col("c_mktsegment"))
        counts.withColumn("rn", row_number().over(byCount))
          .filter(col("rn") === 1)
          .select(col("c_nationkey"), col("c_mktsegment").as("mode_segment"),
            col("cnt"))
          .orderBy(col("c_nationkey"))
      },
      Some("""WITH c AS (SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) cnt
             |  FROM customer GROUP BY 1, 2)
             |SELECT c_nationkey, c_mktsegment AS mode_segment, cnt FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
             |    ORDER BY cnt DESC, c_mktsegment) rn FROM c)
             |WHERE rn = 1 ORDER BY c_nationkey""".stripMargin)),

    // Numeric band join (|x − y| ≤ ε) as a BUCKETED equi-join — the
    // standard de-quadratification of a theta join: one side keys on
    // its ε-bucket, the other explodes to its bucket ± 1, so every
    // qualifying pair meets on exactly ONE bucket key (no dedup needed)
    // and the shuffle is an equi-join on (nation, bucket), never a
    // nested-loop. The residual |diff| filter inside the joined stage
    // keeps semantics exact; the oracle replays the inequality
    // directly. PlanSpec pins the no-BNLJ shape.
    QueryDef("q_band_join",
      (spark, sf) => {
        val c = load(spark, sf, "customer")
          .select(col("c_custkey").as("k"), col("c_nationkey").as("n"),
            cents(col("c_acctbal")).as("b"))
        val x = c.select(col("k").as("ka"), col("n"), col("b").as("ba"))
          .withColumn("bk", expr("ba div 1000"))
        val y = c.select(col("k").as("kb"), col("n"), col("b").as("bb"))
          .withColumn("bk", explode(array(expr("bb div 1000 - 1"),
            expr("bb div 1000"), expr("bb div 1000 + 1"))))
        x.join(y, Seq("n", "bk"))
          .filter(col("ka") < col("kb") && abs(col("ba") - col("bb")) <= 1000)
          .select(col("ka").as("a"), col("kb").as("b"),
            abs(col("ba") - col("bb")).as("diff_cents"))
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH c AS (SELECT c_custkey k, c_nationkey n,
             |    CAST(ROUND(c_acctbal*100) AS BIGINT) b FROM customer)
             |SELECT x.k AS a, y.k AS b, ABS(x.b - y.b) AS diff_cents
             |FROM c x JOIN c y ON x.n = y.n AND x.k < y.k
             |WHERE ABS(x.b - y.b) <= 1000 ORDER BY a, b""".stripMargin)),

    // percent_rank / cume_dist — the normalized-rank window surface
    // (score calibration, percentile labeling). Both are double
    // divisions of identical small integers under the same tie
    // semantics in both engines, so results are bit-exact without any
    // rounding discipline. One shuffle on the nation key; per-nation
    // sorts are the window's own (bounded key domain, balanced groups).
    QueryDef("q_percent_rank_cume",
      (spark, sf) => {
        val byBal = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("bal"))
        load(spark, sf, "customer")
          .select(col("c_custkey"), col("c_nationkey"),
            cents(col("c_acctbal")).as("bal"))
          .select(col("c_custkey"), col("c_nationkey"),
            percent_rank().over(byBal).as("pr"),
            cume_dist().over(byBal).as("cd"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_nationkey,
             |  percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
             |FROM (SELECT c_custkey, c_nationkey,
             |        CAST(ROUND(c_acctbal*100) AS BIGINT) bal FROM customer)
             |WINDOW w AS (PARTITION BY c_nationkey ORDER BY bal)
             |ORDER BY c_custkey""".stripMargin)),

    // Typed cogroup (KeyValueGroupedDataset.cogroup) — the Dataset API
    // for per-key reconciliation logic that doesn't decompose into
    // join+agg expressions: both sides co-partition on the key ONCE and
    // the per-key lambda sees bounded iterators (1 order, ≤7 items), so
    // arbitrary Scala reconciliation runs at join cost. Here it audits
    // order headers against their line items (header cents vs summed
    // item cents — TPC-H-style totals include tax/discount, so every
    // order mismatches and the absolute drift is the signal), folded to
    // a per-status report the oracle replays relationally.
    QueryDef("q_typed_cogroup",
      (spark, sf) => {
        import spark.implicits._
        val orders = load(spark, sf, "orders")
          .select(col("o_orderkey").cast("long"), col("o_orderstatus"),
            cents(col("o_totalprice")).as("t"))
          .as[(Long, String, Long)]
        val items = load(spark, sf, "lineitem")
          .select(col("l_orderkey").cast("long"),
            cents(col("l_extendedprice")).as("c"))
          .as[(Long, Long)]
        orders.groupByKey(_._1).cogroup(items.groupByKey(_._1)) {
            (_, os, is) =>
              val s = is.map(_._2).sum
              os.map { case (_, st, t) => (st, t, s) }
          }
          .toDF("o_orderstatus", "t", "s")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(when(col("t") =!= col("s"), 1L).otherwise(0L)).as("n_mismatch"),
            sum(abs(col("t") - col("s"))).as("sum_absdiff"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH li AS (SELECT l_orderkey, SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) s
             |            FROM lineitem GROUP BY l_orderkey),
             |j AS (SELECT o.o_orderstatus st, CAST(ROUND(o.o_totalprice*100) AS BIGINT) t,
             |        COALESCE(li.s, 0) s
             |      FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey)
             |SELECT st AS o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CASE WHEN t <> s THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
             |  CAST(SUM(ABS(t - s)) AS BIGINT) AS sum_absdiff
             |FROM j GROUP BY st ORDER BY st""".stripMargin)),

    // Ordered string aggregation (LISTAGG/string_agg) — the report-
    // building surface: per-group members concatenated in a DETERMINED
    // order. Spark has no ordered listagg, so the engine composes
    // sort_array(collect_list(…)) + concat_ws — per-group buffers
    // bounded by group membership (suppliers per nation), one shuffle,
    // and the explicit sort makes the result partitioning-independent
    // where a bare collect_list would be nondeterministic.
    QueryDef("q_string_agg",
      (spark, sf) => load(spark, sf, "supplier")
        .join(broadcast(load(spark, sf, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          concat_ws(",", sort_array(collect_list(col("s_name")))).as("suppliers"))
        .orderBy(col("n_name")),
      Some("""SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             |  string_agg(s_name, ',' ORDER BY s_name) AS suppliers
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // Several COUNT(DISTINCT …) over different columns in one aggregate
    // — the profiling query every BI layer emits, and a distinct plan
    // class: Catalyst expands each row once per distinct column
    // (Expand), then two-phase aggregates, so the scan runs ONCE and
    // nothing collects per-group sets in memory.
    QueryDef("q_multi_distinct",
      (spark, sf) => load(spark, sf, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"),
          countDistinct(col("o_orderdate")).as("n_dates"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
             |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
             |  CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_dates
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // Higher-order array functions — aggregate/transform/filter lambdas
    // running INSIDE codegen over a collected per-order array: the
    // nested-data surface (array analytics without a second explode +
    // shuffle round-trip). Per-order arrays are bounded (≤7 items), the
    // one shuffle is the collect_list agg; every lambda is integer
    // arithmetic replayed by DuckDB's list_* functions.
    QueryDef("q_array_funcs",
      (spark, sf) => load(spark, sf, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_quantity").cast("long"))).as("q"))
        .select(col("l_orderkey"), size(col("q")).as("n_items"),
          expr("aggregate(q, 0L, (acc, x) -> acc + x)").as("qty_sum"),
          expr("aggregate(transform(q, x -> x * x), 0L, (acc, x) -> acc + x)").as("sq_sum"),
          size(expr("filter(q, x -> x > 25)")).as("n_big"))
        .orderBy(col("l_orderkey")),
      Some("""WITH a AS (
             |  SELECT l_orderkey, list_sort(list(CAST(l_quantity AS BIGINT))) q
             |  FROM lineitem GROUP BY l_orderkey)
             |SELECT l_orderkey, CAST(len(q) AS INT) AS n_items,
             |  CAST(list_aggregate(q, 'sum') AS BIGINT) AS qty_sum,
             |  CAST(list_aggregate(list_transform(q, x -> x*x), 'sum') AS BIGINT) AS sq_sum,
             |  CAST(len(list_filter(q, x -> x > 25)) AS INT) AS n_big
             |FROM a ORDER BY l_orderkey""".stripMargin)),

    // Point-in-time feature lookup against an SCD2 dimension — the
    // feature-store rule that makes training data leak-proof: each fact
    // may only see dimension state STRICTLY OLDER than its label time
    // (here, the customer's priority version as of 30 days before the
    // order). Built on the same union+window as-of composition as
    // q_asof_join (one o_custkey shuffle, never a range join); the dim
    // first drops superseded same-day versions (max version per
    // (custkey, valid_from)) so the as-of tie-break is deterministic in
    // both engines. ~11% of facts fall before their customer's first
    // version and correctly get NULL features.
    QueryDef("q_pit_features",
      (spark, sf) => {
        val byTime = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val changes = load(spark, sf, "orders")
          .withColumn("prev", lag(col("o_orderpriority"), 1).over(byTime))
          .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
        val dim0 = changes.select(
          col("o_custkey").as("custkey"),
          col("o_orderpriority").as("priority"),
          col("o_orderdate").as("valid_from"),
          row_number().over(byTime).cast("int").as("version"))
        val bySameDay = Window.partitionBy(col("custkey"), col("valid_from"))
          .orderBy(col("version").desc)
        val dim = dim0.withColumn("rn", row_number().over(bySameDay))
          .filter(col("rn") === 1).drop("rn")
        val fact = load(spark, sf, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_orderdate") - expr("INTERVAL 30 DAYS")).as("feature_ts"))
        graft.ops.Joins.asof(
            left = fact.withColumnRenamed("o_custkey", "custkey"),
            right = dim,
            partitionKey = "custkey", leftTime = "feature_ts",
            rightTime = "valid_from",
            valueCols = Map("priority" -> "feature_priority",
              "version" -> "feature_version"))
          .select(col("o_orderkey"), col("custkey").as("o_custkey"),
            col("feature_priority"), col("feature_version"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH changes AS (
             |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey FROM (
             |    SELECT *, LAG(o_orderpriority) OVER (PARTITION BY o_custkey
             |      ORDER BY o_orderdate, o_orderkey) AS prev FROM orders)
             |  WHERE prev IS NULL OR prev <> o_orderpriority),
             |dim0 AS (
             |  SELECT o_custkey AS custkey, o_orderpriority AS priority,
             |    o_orderdate AS valid_from,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS version
             |  FROM changes),
             |dim AS (
             |  SELECT custkey, priority, valid_from, version FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY custkey, valid_from ORDER BY version DESC) AS rn
             |    FROM dim0) WHERE rn = 1),
             |fact AS (SELECT o_orderkey, o_custkey, o_orderdate - INTERVAL 30 DAY AS feature_ts FROM orders)
             |SELECT f.o_orderkey, f.o_custkey, d.priority AS feature_priority, d.version AS feature_version
             |FROM fact f ASOF LEFT JOIN dim d
             |  ON f.o_custkey = d.custkey AND f.feature_ts >= d.valid_from
             |ORDER BY f.o_orderkey""".stripMargin)),

    // Weighted shortest paths (semi-naive Bellman–Ford) over a multi-
    // path DAG derived from the part keys: every node p has TWO out-
    // edges (p → p div 2 and p → p div 3, each with a deterministic
    // small weight), so real route choice exists at every step and the
    // min-cost answer is not just tree depth. The relaxation metric is
    // the COMBINED integer w·64 + 1: because no shortest path has ≥ 64
    // hops here, minimizing the combined metric IS the lexicographic
    // (total weight, hop count) minimum — one Bellman–Ford run yields
    // both, exactly, with deterministic tie-breaks. Per round the op
    // shuffles only the improved frontier (ops/Graphs.scala); the
    // oracle replays 24 unrolled relaxation rounds — a fixpoint by
    // round ⌈log2(max key)⌉+1 ≈ 16 at sf0.1, so 24 covers every
    // shipped SF with margin (keys up to 2^23).
    QueryDef("q_cheapest_path",
      (spark, sf) => {
        val dists = Layouts.memo(spark, sf, "cheapest") {
          val p = load(spark, sf, "part").filter(col("p_partkey") >= 1)
          val edges = p.select(col("p_partkey").as("src"),
              expr("p_partkey div 2").as("dst"),
              ((lit(1) + col("p_partkey") % 7) * 64 + 1).cast("long").as("w"))
            .unionByName(p.select(col("p_partkey").as("src"),
              expr("p_partkey div 3").as("dst"),
              ((lit(2) + col("p_partkey") % 5) * 64 + 1).cast("long").as("w")))
          val sink = spark.range(1).select(lit(0L).as("node"))
          graft.ops.Graphs.cheapestPaths(edges, sink)
        }
        dists
          .filter(col("node") % 41 === 0)
          .select(col("node"), expr("dist div 64").as("dist"),
            (col("dist") % 64).cast("int").as("hops"))
          .orderBy(col("node"))
      },
      Some {
        // AS MATERIALIZED is load-bearing: each round references the
        // previous one twice, and DuckDB's default CTE inlining would
        // expand the 24-round chain exponentially (observed: file-handle
        // exhaustion re-opening part.parquet 2^24 times)
        def round(k: Int) =
          s"""d$k AS MATERIALIZED (
             |  SELECT node, MIN(dist) AS dist FROM (
             |    SELECT node, dist FROM d${k - 1}
             |    UNION ALL
             |    SELECT e.src, e.w + d.dist FROM e JOIN d${k - 1} d ON e.dst = d.node)
             |  GROUP BY node)""".stripMargin
        s"""WITH e AS MATERIALIZED (
           |  SELECT CAST(p_partkey AS BIGINT) AS src, CAST(p_partkey // 2 AS BIGINT) AS dst,
           |    CAST((1 + p_partkey % 7) * 64 + 1 AS BIGINT) AS w
           |  FROM part WHERE p_partkey >= 1
           |  UNION ALL
           |  SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey // 3 AS BIGINT),
           |    CAST((2 + p_partkey % 5) * 64 + 1 AS BIGINT)
           |  FROM part WHERE p_partkey >= 1),
           |d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
           |${(1 to 24).map(round).mkString(",\n")}
           |SELECT node, dist // 64 AS dist, CAST(dist % 64 AS INT) AS hops
           |FROM d24 WHERE node % 41 = 0 ORDER BY node""".stripMargin
      }),

    // Exponential smoothing (EWMA level tracking, α = 1/4) of the
    // per-type hourly event-count series, with >50%-deviation anomaly
    // counting — the classic online forecasting/monitoring primitive.
    // The recurrence is INTEGER micro-units with floor division
    // (level' = (x·10⁶ + 3·level) div 4), so the whole sequential fold
    // is engine-exact; the per-type state (level, anomaly count, hour
    // count) is PACKED into one BIGINT (level·2²⁸ + anoms·2¹⁴ + n,
    // bounds documented) because DuckDB's list_reduce folds over a
    // homogeneous list — the same list_prepend(sentinel) trick as the
    // FNV hash oracle. Scale shape: one (type, hour) count shuffle,
    // then per-type folds over bounded time-grid arrays (the state per
    // key is the time horizon, not the data).
    QueryDef("q_exp_smoothing",
      (spark, sf) => {
        val hourly = Tables.load(spark, sf, "events")
          .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .groupBy(col("event_type"), col("h"))
          .agg(count(lit(1)).as("n"))
        hourly.groupBy(col("event_type"))
          .agg(expr("transform(sort_array(collect_list(struct(h, n))), x -> x.n)")
            .as("s"))
          .select(col("event_type"), expr(
            // Strict-mode bound guard (the Graphs.relaxFixpoint
            // discipline): the packing holds level·10⁶ < 2³⁵ (hourly
            // count ≤ 34 000) and 14-bit n_hours/n_anomalies fields.
            // Past the bounds the fold would wrap SILENTLY into the
            // adjacent bit fields and still hash-match its equally
            // wrapped oracle twin — so fail loudly instead.
            """aggregate(s, -1L, (acc, x) -> CASE
              |  WHEN x > 34000L OR (acc >= 0 AND (acc % 16384L >= 16383L
              |       OR (acc div 16384L) % 16384L >= 16383L))
              |    THEN CAST(raise_error(CONCAT('q_exp_smoothing: packed-state ',
              |      'bounds exceeded (hourly count <= 34000, n_hours/',
              |      'n_anomalies < 16384) - widen the packing')) AS BIGINT)
              |  WHEN acc < 0 THEN x * 1000000L * 268435456L + 1L
              |  ELSE (x * 1000000L + 3L * (acc div 268435456L)) div 4L * 268435456L
              |    + ((acc div 16384L) % 16384L
              |       + IF(abs(x * 1000000L - acc div 268435456L) * 2L
              |            > acc div 268435456L, 1L, 0L)) * 16384L
              |    + (acc % 16384L + 1L)
              |END)""".stripMargin).as("p"))
          .select(col("event_type"),
            (col("p") % 16384L).cast("int").as("n_hours"),
            expr("p div 268435456L").as("level_micro"),
            expr("(p div 16384L) % 16384L").as("n_anomalies"))
          .orderBy(col("event_type"))
      },
      Some(Shared.ExpSmoothingOracle)),

    // Holt's double exponential smoothing (level + TREND, α = β = 1/4)
    // over the same per-type hourly series as q_exp_smoothing — the
    // EWMA sibling that doesn't lag a drifting series: the one-step
    // forecast is level + trend, so sustained growth stops reading as
    // a permanent anomaly. Same exact-integer discipline (micro-units,
    // truncating integer division — Spark `div` and DuckDB `//` both
    // truncate toward zero, verified, so the signed trend needs no
    // bias trick), but the state rides a named_struct accumulator
    // instead of q_exp_smoothing's bit-packed BIGINT. The ORACLE does
    // the fold as a recursive CTE over the row-numbered series, NOT
    // DuckDB list_reduce: list_reduce updates a struct accumulator's
    // fields IN PLACE left-to-right, so the 'b' expression reads the
    // already-updated 'l' (verified: 585937 where the functional fold
    // gives 906250 on [10,2,30]) — a quirk no oracle should lean on.
    // No silent-wrap risk: unpacked 64-bit fields hold counts to
    // ~9·10¹² hours·10⁶; the fold still fails loudly past the
    // documented 10⁹ hourly bound. Scale shape: one (type, hour) count
    // shuffle, then per-type folds over bounded time-grid arrays.
    QueryDef("q_holt_winters",
      (spark, sf) => {
        val hourly = Tables.load(spark, sf, "events")
          .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .groupBy(col("event_type"), col("h"))
          .agg(count(lit(1)).as("n"))
        hourly.groupBy(col("event_type"))
          .agg(expr("transform(sort_array(collect_list(struct(h, n))), x -> x.n)")
            .as("s"))
          .select(col("event_type"), expr(
            """aggregate(s,
              |  named_struct('l', 0L, 'b', 0L, 'n', 0L, 'm', 0L),
              |  (acc, x) -> CASE
              |    WHEN x > 1000000000L THEN named_struct(
              |      'l', CAST(raise_error('q_holt_winters: hourly count > 1e9 — micro-unit state would overflow') AS BIGINT),
              |      'b', 0L, 'n', 0L, 'm', 0L)
              |    WHEN acc.n = 0L THEN named_struct(
              |      'l', x * 1000000L, 'b', 0L, 'n', 1L, 'm', 0L)
              |    ELSE named_struct(
              |      'l', (x * 1000000L + 3L * (acc.l + acc.b)) div 4L,
              |      'b', ((x * 1000000L + 3L * (acc.l + acc.b)) div 4L
              |            - acc.l + 3L * acc.b) div 4L,
              |      'n', acc.n + 1L,
              |      'm', acc.m + IF(abs(x * 1000000L - (acc.l + acc.b)) * 2L
              |                      > abs(acc.l + acc.b), 1L, 0L))
              |  END)""".stripMargin).as("p"))
          .select(col("event_type"),
            col("p.n").cast("int").as("n_hours"),
            col("p.l").as("level_micro"),
            col("p.b").as("trend_micro"),
            col("p.m").as("n_anomalies"))
          .orderBy(col("event_type"))
      },
      Some(Shared.HoltOracle)),

    // MACD-style crossover monitoring: a FAST (α = 1/2) and a SLOW
    // (α = 1/8) EWMA of the per-type hourly series, counting the
    // sign crossings of their difference — the trading-signal shape
    // reused by ops teams as a regime-change detector (fast average
    // punching through the slow one = trend reversal). Same exact-
    // integer discipline as q_exp_smoothing/q_holt_winters: micro-unit
    // levels, truncating integer division (both operands nonnegative
    // here, so Spark `div` and DuckDB `//` agree trivially), a
    // named_struct accumulator, and a loud guard past the documented
    // 10⁹ hourly bound. Crossings count only strict sign OPPOSITION
    // against the last nonzero sign (zeros neither count nor reset),
    // so the count is insensitive to flat-touch ties. The oracle is a
    // recursive-CTE fold (the q_holt_winters lesson: DuckDB's
    // list_reduce mutates struct accumulators field-by-field in
    // place). Scale shape: one (type, hour) count shuffle, then
    // per-type folds over bounded time-grid arrays.
    QueryDef("q_macd_signal",
      (spark, sf) => {
        val hourly = Tables.load(spark, sf, "events")
          .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .groupBy(col("event_type"), col("h"))
          .agg(count(lit(1)).as("n"))
        hourly.groupBy(col("event_type"))
          .agg(expr("transform(sort_array(collect_list(struct(h, n))), x -> x.n)")
            .as("s"))
          .select(col("event_type"), expr(
            """aggregate(s,
              |  named_struct('f', 0L, 's', 0L, 'p', 0L, 'n', 0L, 'c', 0L),
              |  (acc, x) -> CASE
              |    WHEN x > 1000000000L THEN named_struct(
              |      'f', CAST(raise_error('q_macd_signal: hourly count > 1e9 — micro-unit state would overflow') AS BIGINT),
              |      's', 0L, 'p', 0L, 'n', 0L, 'c', 0L)
              |    WHEN acc.n = 0L THEN named_struct(
              |      'f', x * 1000000L, 's', x * 1000000L,
              |      'p', 0L, 'n', 1L, 'c', 0L)
              |    ELSE named_struct(
              |      'f', (x * 1000000L + acc.f) div 2L,
              |      's', (x * 1000000L + 7L * acc.s) div 8L,
              |      'p', IF((x * 1000000L + acc.f) div 2L
              |              = (x * 1000000L + 7L * acc.s) div 8L, acc.p,
              |           IF((x * 1000000L + acc.f) div 2L
              |              > (x * 1000000L + 7L * acc.s) div 8L, 1L, -1L)),
              |      'n', acc.n + 1L,
              |      'c', acc.c + IF(acc.p *
              |           IF((x * 1000000L + acc.f) div 2L
              |              = (x * 1000000L + 7L * acc.s) div 8L, 0L,
              |           IF((x * 1000000L + acc.f) div 2L
              |              > (x * 1000000L + 7L * acc.s) div 8L, 1L, -1L))
              |           = -1L, 1L, 0L))
              |  END)""".stripMargin).as("p"))
          .select(col("event_type"),
            col("p.n").cast("int").as("n_hours"),
            col("p.f").as("fast_micro"),
            col("p.s").as("slow_micro"),
            (col("p.f") - col("p.s")).as("macd_micro"),
            col("p.c").as("n_crossings"))
          .orderBy(col("event_type"))
      },
      Some("""WITH RECURSIVE hourly AS (
             |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
             |  FROM events GROUP BY 1, 2),
             |idx AS MATERIALIZED (
             |  SELECT event_type,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS i,
             |    CAST(n AS BIGINT) AS x
             |  FROM hourly),
             |cnt AS (SELECT event_type, COUNT(*) AS len FROM idx GROUP BY 1),
             |mc AS (
             |  SELECT event_type, CAST(1 AS BIGINT) AS i,
             |    x * 1000000 AS f, x * 1000000 AS s,
             |    CAST(0 AS BIGINT) AS p, CAST(0 AS BIGINT) AS c
             |  FROM idx WHERE i = 1
             |  UNION ALL
             |  SELECT w.event_type, w.i + 1,
             |    (ix.x * 1000000 + w.f) // 2,
             |    (ix.x * 1000000 + 7 * w.s) // 8,
             |    CASE WHEN (ix.x * 1000000 + w.f) // 2
             |              = (ix.x * 1000000 + 7 * w.s) // 8 THEN w.p
             |         WHEN (ix.x * 1000000 + w.f) // 2
             |              > (ix.x * 1000000 + 7 * w.s) // 8 THEN 1 ELSE -1 END,
             |    w.c + CASE WHEN w.p * (CASE
             |        WHEN (ix.x * 1000000 + w.f) // 2
             |             = (ix.x * 1000000 + 7 * w.s) // 8 THEN 0
             |        WHEN (ix.x * 1000000 + w.f) // 2
             |             > (ix.x * 1000000 + 7 * w.s) // 8 THEN 1
             |        ELSE -1 END) = -1 THEN 1 ELSE 0 END
             |  FROM mc w JOIN idx ix ON ix.event_type = w.event_type
             |                       AND ix.i = w.i + 1)
             |SELECT w.event_type, CAST(c2.len AS INT) AS n_hours,
             |  w.f AS fast_micro, w.s AS slow_micro,
             |  w.f - w.s AS macd_micro, w.c AS n_crossings
             |FROM mc w JOIN cnt c2 USING (event_type) WHERE w.i = c2.len
             |ORDER BY event_type""".stripMargin)),

    // Widest (maximum-bottleneck) paths over the same multi-path part
    // DAG as q_cheapest_path, on the (max, min) semiring: width(node) =
    // the largest per-edge capacity floor any route to the sink can
    // sustain — the capacity-planning dual of min-cost routing, and the
    // second semiring instance through ops/Graphs' shared semi-naive
    // relaxation engine (proof the frontier-only iteration is
    // semiring-generic, not a Bellman–Ford special case). Capacities
    // are deterministic small integers; the oracle unrolls 24
    // MAX(LEAST(...)) relaxation rounds, materialized for the same
    // exponential-inlining reason as q_cheapest_path.
    QueryDef("q_widest_path",
      (spark, sf) => {
        val widths = Layouts.memo(spark, sf, "widest") {
          val p = load(spark, sf, "part").filter(col("p_partkey") >= 1)
          val edges = p.select(col("p_partkey").as("src"),
              expr("p_partkey div 2").as("dst"),
              (lit(5) + col("p_partkey") % 11).cast("long").as("w"))
            .unionByName(p.select(col("p_partkey").as("src"),
              expr("p_partkey div 3").as("dst"),
              (lit(3) + col("p_partkey") % 13).cast("long").as("w")))
          val sink = spark.range(1).select(lit(0L).as("node"))
          graft.ops.Graphs.widestPaths(edges, sink)
        }
        widths
          .filter(col("node") % 43 === 0 && col("node") >= 1)
          .select(col("node"), col("dist").cast("int").as("width"))
          .orderBy(col("node"))
      },
      Some {
        def round(k: Int) =
          s"""d$k AS MATERIALIZED (
             |  SELECT node, MAX(width) AS width FROM (
             |    SELECT node, width FROM d${k - 1}
             |    UNION ALL
             |    SELECT e.src, LEAST(e.w, d.width)
             |    FROM e JOIN d${k - 1} d ON e.dst = d.node)
             |  GROUP BY node)""".stripMargin
        s"""WITH e AS MATERIALIZED (
           |  SELECT CAST(p_partkey AS BIGINT) AS src, CAST(p_partkey // 2 AS BIGINT) AS dst,
           |    CAST(5 + p_partkey % 11 AS BIGINT) AS w
           |  FROM part WHERE p_partkey >= 1
           |  UNION ALL
           |  SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey // 3 AS BIGINT),
           |    CAST(3 + p_partkey % 13 AS BIGINT)
           |  FROM part WHERE p_partkey >= 1),
           |d0 AS (SELECT CAST(0 AS BIGINT) AS node,
           |       CAST(9223372036854775807 AS BIGINT) AS width),
           |${(1 to 24).map(round).mkString(",\n")}
           |SELECT node, CAST(width AS INT) AS width
           |FROM d24 WHERE node % 43 = 0 AND node >= 1 ORDER BY node""".stripMargin
      }),

    // 3-core of the part-division graph — the community/spam-farm
    // primitive (a k-core survives only where every member keeps ≥ k
    // in-core neighbors, so cores mark mutually-dense regions no
    // single high-degree hub can fake). The graph is the familiar
    // division DAG made undirected (p—p÷2, p—p÷3, plus p—p÷5 for
    // every third p so degrees are HETEROGENEOUS — with uniform
    // degrees peeling would be all-or-nothing; here round 1 peels the
    // thin fringe and round 2 peels the nodes round 1 exposed, so the
    // cascade is continuously exercised; measured fixpoint: 3 rounds
    // at every shipped SF, ~39% of nodes peeled). Third fixpoint shape
    // through ops/Graphs (after frontier relaxation and fixed-round
    // power iteration): survivor-set peeling with per-round checkpoint
    // GC. The oracle unrolls 8 materialized peel rounds (fixpoint + 5
    // margin; peel depth is structural — it did not grow across the
    // 100× SF span).
    QueryDef("q_k_core",
      (spark, sf) => {
        val core = Layouts.memo(spark, sf, "kcore") {
          val p = load(spark, sf, "part").filter(col("p_partkey") >= 1)
          val raw = p.select(col("p_partkey").cast("long").as("x"),
              expr("CAST(p_partkey div 2 AS BIGINT)").as("y"))
            .unionByName(p.select(col("p_partkey").cast("long").as("x"),
              expr("CAST(p_partkey div 3 AS BIGINT)").as("y")))
            .unionByName(p.filter(col("p_partkey") % 3 === 0)
              .select(col("p_partkey").cast("long").as("x"),
                expr("CAST(p_partkey div 5 AS BIGINT)").as("y")))
          val und = raw.filter(col("x") =!= col("y"))
            .select(least(col("x"), col("y")).as("a"),
              greatest(col("x"), col("y")).as("b"))
          graft.ops.Graphs.kCore(und, k = 3)
        }
        core.orderBy(col("node"))
      },
      Some {
        def round(r: Int) =
          s"""s$r AS MATERIALIZED (
             |  SELECT u FROM (
             |    SELECT u, COUNT(*) c FROM (
             |      SELECT a AS u FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
             |    GROUP BY u) WHERE c >= 3),
             |e$r AS MATERIALIZED (
             |  SELECT a, b FROM e${r - 1}
             |  WHERE a IN (SELECT u FROM s$r) AND b IN (SELECT u FROM s$r))""".stripMargin
        s"""WITH e0 AS MATERIALIZED (
           |  SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b FROM (
           |    SELECT CAST(p_partkey AS BIGINT) a, CAST(p_partkey // 2 AS BIGINT) b
           |    FROM part WHERE p_partkey >= 1
           |    UNION ALL
           |    SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey // 3 AS BIGINT)
           |    FROM part WHERE p_partkey >= 1
           |    UNION ALL
           |    SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey // 5 AS BIGINT)
           |    FROM part WHERE p_partkey >= 1 AND p_partkey % 3 = 0)
           |  WHERE a <> b),
           |${(1 to 8).map(round).mkString(",\n")}
           |SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
           |FROM (SELECT a AS u FROM e8 UNION ALL SELECT b FROM e8)
           |GROUP BY u ORDER BY node""".stripMargin
      }),

    // Pearson chi-square test of independence (nation × order priority)
    // — the categorical-association primitive behind feature selection
    // and drift tests. Contingency cells, margins and N are exact
    // integers; each cell's (O·N − R·C)²/(R·C) term is one fixed double
    // expression (the diff is < 2^53, so its double square is the same
    // IEEE value on every engine — no libm POW); the statistic is the
    // term sum over a bounded #nations × #priorities frame, rounded to
    // 4 dp, and Cramér's V is one sqrt of the already-rounded χ²/(N·k)
    // so both engines root the identical double. Shape: one fact
    // shuffle for the cells, margins re-aggregated from the tiny cell
    // frame, broadcast joins back — at 100 TB the fact table is
    // touched exactly once.
    QueryDef("q_chi_square",
      (spark, sf) => {
        val cells = load(spark, sf, "orders")
          .join(load(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(load(spark, sf, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), col("o_orderpriority"))
          .agg(count(lit(1)).as("obs"))
        val rt = cells.groupBy(col("n_name")).agg(sum(col("obs")).as("rt"))
        val ct = cells.groupBy(col("o_orderpriority")).agg(sum(col("obs")).as("ct"))
        val tot = cells.agg(sum(col("obs")).as("n"),
          countDistinct(col("n_name")).as("r"),
          countDistinct(col("o_orderpriority")).as("cc"))
        val d = (col("obs") * col("n") - col("rt") * col("ct")).cast("double")
        cells.join(broadcast(rt), Seq("n_name"))
          .join(broadcast(ct), Seq("o_orderpriority"))
          .crossJoin(broadcast(tot))
          .select(col("n"), col("r"), col("cc"),
            (d * d / (col("rt") * col("ct")).cast("double")).as("term"))
          .groupBy(col("n"), col("r"), col("cc"))
          .agg(sum(col("term")).as("s"))
          .select(col("n"),
            ((col("r") - 1) * (col("cc") - 1)).cast("int").as("dof"),
            round(col("s") / col("n"), 4).as("chi2"),
            round(sqrt(round(col("s") / col("n"), 4) /
              (col("n") * least(col("r") - 1, col("cc") - 1))), 6).as("cramers_v"))
      },
      Some("""WITH cells AS (
             |  SELECT n_name, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS obs
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY 1, 2),
             |rt AS (SELECT n_name, SUM(obs) AS rt FROM cells GROUP BY 1),
             |ct AS (SELECT o_orderpriority, SUM(obs) AS ct FROM cells GROUP BY 1),
             |tot AS (SELECT SUM(obs) AS n, COUNT(DISTINCT n_name) AS r,
             |          COUNT(DISTINCT o_orderpriority) AS cc FROM cells),
             |terms AS (
             |  SELECT n, r, cc,
             |    CAST(obs*n - rt*ct AS DOUBLE) * CAST(obs*n - rt*ct AS DOUBLE)
             |      / CAST(rt*ct AS DOUBLE) AS term
             |  FROM cells JOIN rt USING (n_name) JOIN ct USING (o_orderpriority)
             |  CROSS JOIN tot)
             |SELECT CAST(n AS BIGINT) AS n, CAST((r-1)*(cc-1) AS INT) AS dof,
             |  ROUND(SUM(term)/n, 4) AS chi2,
             |  ROUND(SQRT(ROUND(SUM(term)/n, 4) / (n * LEAST(r-1, cc-1))), 6) AS cramers_v
             |FROM terms GROUP BY n, r, cc""".stripMargin)),

    // Two-proportion z-test (the A/B experiment readout): user-level
    // conversion (any purchase of ≥ $150 — integer-cents comparison;
    // plain any-purchase saturates this corpus and degenerates the
    // test) split by the deterministic even/odd user_id assignment.
    // The pooled z² collapses to the pure integer identity
    // z² = (x_a·n_b − x_b·n_a)²·n / (n_a·n_b·x·(n−x)), so the α=0.05
    // significance DECISION is an exact cross-multiplied integer
    // comparison — z² ≥ 2401/625 with both sides integer, evaluated in
    // DECIMAL(38)/HUGEINT because D²·n·625 overflows 64 bits — while
    // the displayed z² is one fixed double expression. The exact
    // decision has a DOMAIN: D²·n·625 and 2401·n_a·n_b·x·(n−x) must
    // fit 38 digits (worst case ≈ 625·n⁵/16, safe to ~10⁷ users per
    // arm; adversarial inputs past that would overflow Spark decimals
    // to NULL and emit no verdict while the docs promise one), and the
    // BIGINT cross products x_a·n_b need |·| < 2⁶³. So the guard below
    // FAILS LOUDLY (raise_error) outside a 10×-margined double
    // pre-check instead of silently NULLing — the Graphs.relaxFixpoint
    // strict-mode discipline. (DuckDB's 127-bit HUGEINT has the
    // analogous ~1.7e38 bound; the guard never fires at gate scale so
    // both engines emit identical values.) Degenerate
    // designs (either arm empty, or 0%/100% pooled conversion) emit
    // NULL z²/verdict on both engines instead of dividing by zero.
    // Shape: one user-keyed agg (the only corpus shuffle), then a
    // two-row parity frame does everything else.
    // Welch's unequal-variance two-sample t-test on MEANS — the
    // continuous-metric sibling of q_ab_test's proportion z-test (the
    // experimentation pair every metrics platform ships). Sufficient
    // statistics are exact integers (n, Σcents, Σcents² per arm — one
    // map-side-combined aggregate, O(1) driver rows at any corpus
    // size); t² and the Welch–Satterthwaite df are each ONE double
    // expression with identical text in both engines; and the
    // significance verdict at α=0.05 is decided EXACTLY in integer
    // arithmetic — t² ≥ 1.96² cross-multiplied to
    // 625·d²·(n_a−1)(n_b−1) ≥ 2401·(A_a·n_b²(n_b−1) + A_b·n_a²(n_a−1))
    // with A_i = n_i·Q_i − S_i² — in DECIMAL(38)/HUGEINT, with a
    // raise_error domain tripwire (the q_ab_test discipline) where the
    // cross-products would leave the exact-decision domain.
    QueryDef("q_welch_ttest",
      (spark, sf) => {
        val wide = load(spark, sf, "customer")
          .select((col("c_custkey") % 2 === 0).as("grp_a"),
            cents(col("c_acctbal")).as("v"))
          .agg(
            sum(when(col("grp_a"), 1L).otherwise(0L)).as("n_a"),
            sum(when(col("grp_a"), col("v")).otherwise(0L)).as("s_a"),
            sum(when(col("grp_a"), col("v") * col("v")).otherwise(0L)).as("q_a"),
            sum(when(!col("grp_a"), 1L).otherwise(0L)).as("n_b"),
            sum(when(!col("grp_a"), col("v")).otherwise(0L)).as("s_b"),
            sum(when(!col("grp_a"), col("v") * col("v")).otherwise(0L)).as("q_b"))
        val ok = col("n_a") > 1 && col("n_b") > 1
        wide.select(col("n_a"), col("s_a"), col("q_a"),
            col("n_b"), col("s_b"), col("q_b"),
            (col("s_a") * col("n_b") - col("s_b") * col("n_a")).as("d_scaled"),
            when(ok, round(expr(
              """POW(CAST(s_a * n_b - s_b * n_a AS DOUBLE)
                |      / (CAST(n_a AS DOUBLE) * n_b), 2)
                |  / ((CAST(n_a AS DOUBLE) * q_a - CAST(s_a AS DOUBLE) * s_a)
                |       / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1))
                |     + (CAST(n_b AS DOUBLE) * q_b - CAST(s_b AS DOUBLE) * s_b)
                |       / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1)))""".stripMargin), 4))
              .as("t2"),
            when(ok, round(expr(
              """POW((CAST(n_a AS DOUBLE) * q_a - CAST(s_a AS DOUBLE) * s_a)
                |      / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1))
                |    + (CAST(n_b AS DOUBLE) * q_b - CAST(s_b AS DOUBLE) * s_b)
                |      / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1)), 2)
                |  / (POW((CAST(n_a AS DOUBLE) * q_a - CAST(s_a AS DOUBLE) * s_a)
                |         / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1)), 2) / (n_a - 1)
                |     + POW((CAST(n_b AS DOUBLE) * q_b - CAST(s_b AS DOUBLE) * s_b)
                |           / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1)), 2) / (n_b - 1))""".stripMargin), 2))
              .as("df"),
            when(ok, expr(
              """CASE WHEN 625 * POW(CAST(s_a * n_b - s_b * n_a AS DOUBLE), 2)
                |       * (n_a - 1) * (n_b - 1) > 1e36
                |    OR 2401 * ((CAST(n_a AS DOUBLE) * q_a)
                |         * n_b * n_b * (n_b - 1)
                |       + (CAST(n_b AS DOUBLE) * q_b)
                |         * n_a * n_a * (n_a - 1)) > 1e36
                |  THEN CAST(raise_error(CONCAT('q_welch_ttest: statistics exceed ',
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
                |    AS INT) END""".stripMargin))
              .as("significant"))
      },
      Some("""WITH wide AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN c_custkey % 2 = 0
             |          THEN CAST(ROUND(c_acctbal*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_a,
             |    CAST(SUM(CASE WHEN c_custkey % 2 = 0
             |          THEN CAST(ROUND(c_acctbal*100) AS BIGINT)
             |             * CAST(ROUND(c_acctbal*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS q_a,
             |    CAST(SUM(CASE WHEN c_custkey % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |    CAST(SUM(CASE WHEN c_custkey % 2 <> 0
             |          THEN CAST(ROUND(c_acctbal*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_b,
             |    CAST(SUM(CASE WHEN c_custkey % 2 <> 0
             |          THEN CAST(ROUND(c_acctbal*100) AS BIGINT)
             |             * CAST(ROUND(c_acctbal*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS q_b
             |  FROM customer)
             |SELECT n_a, s_a, q_a, n_b, s_b, q_b,
             |  CAST(s_a * n_b - s_b * n_a AS BIGINT) AS d_scaled,
             |  CASE WHEN n_a > 1 AND n_b > 1 THEN
             |    ROUND(POW(CAST(s_a * n_b - s_b * n_a AS DOUBLE)
             |        / (CAST(n_a AS DOUBLE) * n_b), 2)
             |      / ((CAST(n_a AS DOUBLE) * q_a - CAST(s_a AS DOUBLE) * s_a)
             |           / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1))
             |         + (CAST(n_b AS DOUBLE) * q_b - CAST(s_b AS DOUBLE) * s_b)
             |           / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1))), 4) END AS t2,
             |  CASE WHEN n_a > 1 AND n_b > 1 THEN
             |    ROUND(POW((CAST(n_a AS DOUBLE) * q_a - CAST(s_a AS DOUBLE) * s_a)
             |          / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1))
             |        + (CAST(n_b AS DOUBLE) * q_b - CAST(s_b AS DOUBLE) * s_b)
             |          / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1)), 2)
             |      / (POW((CAST(n_a AS DOUBLE) * q_a - CAST(s_a AS DOUBLE) * s_a)
             |             / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1)), 2) / (n_a - 1)
             |         + POW((CAST(n_b AS DOUBLE) * q_b - CAST(s_b AS DOUBLE) * s_b)
             |               / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1)), 2) / (n_b - 1)), 2)
             |  END AS df,
             |  CASE WHEN n_a > 1 AND n_b > 1 THEN
             |    CAST(CAST(s_a * n_b - s_b * n_a AS HUGEINT)
             |      * (s_a * n_b - s_b * n_a) * (n_a - 1) * (n_b - 1) * 625
             |    >= CAST(2401 AS HUGEINT)
             |      * ((CAST(n_a AS HUGEINT) * q_a
             |            - CAST(s_a AS HUGEINT) * s_a) * n_b * n_b * (n_b - 1)
             |         + (CAST(n_b AS HUGEINT) * q_b
             |            - CAST(s_b AS HUGEINT) * s_b) * n_a * n_a * (n_a - 1))
             |    AS INT) END AS significant
             |FROM wide""".stripMargin)),

    // Sample-ratio-mismatch guardrail — the sanity check every
    // experimentation platform runs BEFORE any treatment statistic
    // (Fabijan et al. 2019, public): did the 50/50 user assignment
    // actually land 50/50, or is the randomizer/logging pipeline
    // dropping one arm? χ² goodness-of-fit with two equal-expected
    // cells collapses to (n_a−n_b)²/n, so the entire test is exact
    // integer arithmetic end to end: the α=0.001 SRM threshold
    // (10.828 = χ²₍₁₎ at 0.001 — SRM pages use a stringent α because a
    // positive means the EXPERIMENT is broken, not the metric) is the
    // cross-multiplied comparison 1000·(n_a−n_b)² ≥ 10828·n in BIGINT
    // (exact to ~9e14 users — no DECIMAL needed), plus the α=0.05
    // verdict 625·(n_a−n_b)² ≥ 2401·n for symmetry with the suite.
    // One user-keyed dedup shuffle, O(1) rows after.
    QueryDef("q_srm_check",
      (spark, sf) => {
        val users = load(spark, sf, "events")
          .select(col("user_id")).distinct()
        val wide = users
          .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("user_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_b"))
        wide.select(col("n_a"), col("n_b"),
          when(col("n_a") + col("n_b") > 0, round(expr(
            """POW(CAST(n_a - n_b AS DOUBLE), 2) / (n_a + n_b)"""), 4))
            .as("chi2"),
          when(col("n_a") + col("n_b") > 0, expr(
            "CAST(625 * (n_a - n_b) * (n_a - n_b) >= 2401 * (n_a + n_b) AS INT)"))
            .as("mismatch_05"),
          when(col("n_a") + col("n_b") > 0, expr(
            "CAST(1000 * (n_a - n_b) * (n_a - n_b) >= 10828 * (n_a + n_b) AS INT)"))
            .as("srm_alarm"))
      },
      Some(Shared.SrmOracle)),

    // CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013, public
    // paper) — the standard pre-experiment covariate adjustment every
    // experimentation platform runs before the test statistics
    // (q_ab_test / q_welch_ttest / q_mann_whitney): each user's
    // post-period metric y is adjusted by θ·(x − x̄) where x is the
    // SAME user's pre-period activity and θ = cov(x,y)/var(x), shrinking
    // between-user noise by exactly ρ² (the reported variance-reduction
    // factor). The pre/post split is the corpus midpoint timestamp (one
    // O(1) min/max agg broadcast back); per-user (x, y) counts are one
    // user-keyed shuffle; every moment (n, Σx, Σy, Σx², Σy², Σxy + the
    // per-arm sums) is an exact BIGINT from ONE map-side-combined
    // aggregate, so the frame reaching the driver is a single row at
    // any corpus size. θ, ρ², and the raw/adjusted arm differences are
    // each ONE double expression with identical text in both engines
    // (the arm-mean x̄ terms cancel in the adjusted difference —
    // diff_adj = diff_raw − θ·(x̄_a − x̄_b) — so no nested rounding).
    // Degenerate designs (an empty arm, or zero pre-period variance)
    // emit NULL adjustments on both engines.
    QueryDef("q_cuped",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
          .select(col("user_id"), expr("unix_micros(ts)").as("us"))
        val cut = ev.agg(expr("(MIN(us) + MAX(us)) div 2").as("cut"))
        val per = ev.crossJoin(broadcast(cut))
          .groupBy(col("user_id"))
          .agg(sum(when(col("us") < col("cut"), 1L).otherwise(0L)).as("x"),
            sum(when(col("us") >= col("cut"), 1L).otherwise(0L)).as("y"))
          .select((col("user_id") % 2 === 0).as("grp_a"), col("x"), col("y"))
        val s = per.agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(when(col("grp_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("grp_a"), col("x")).otherwise(0L)).as("sx_a"),
          sum(when(col("grp_a"), col("y")).otherwise(0L)).as("sy_a"),
          sum(when(!col("grp_a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("grp_a"), col("x")).otherwise(0L)).as("sx_b"),
          sum(when(!col("grp_a"), col("y")).otherwise(0L)).as("sy_b"))
        val okVar = col("n_a") > 0 && col("n_b") > 0 &&
          col("n") * col("sxx") - col("sx") * col("sx") > 0
        s.select(col("n"), col("n_a"), col("n_b"),
          col("sx"), col("sy"), col("sxy"),
          when(okVar, round(expr(
            """CAST(n * sxy - sx * sy AS DOUBLE)
              |  / CAST(n * sxx - sx * sx AS DOUBLE)""".stripMargin), 6))
            .as("theta"),
          when(okVar && col("n") * col("syy") - col("sy") * col("sy") > 0,
            round(expr(
              """POW(CAST(n * sxy - sx * sy AS DOUBLE), 2)
                |  / (CAST(n * sxx - sx * sx AS DOUBLE)
                |     * CAST(n * syy - sy * sy AS DOUBLE))""".stripMargin), 6))
            .as("var_reduction"),
          when(col("n_a") > 0 && col("n_b") > 0, round(expr(
            """CAST(sy_a AS DOUBLE) / n_a
              |  - CAST(sy_b AS DOUBLE) / n_b""".stripMargin), 6))
            .as("diff_raw"),
          when(okVar, round(expr(
            """CAST(sy_a AS DOUBLE) / n_a - CAST(sy_b AS DOUBLE) / n_b
              |  - CAST(n * sxy - sx * sy AS DOUBLE)
              |    / CAST(n * sxx - sx * sx AS DOUBLE)
              |    * (CAST(sx_a AS DOUBLE) / n_a
              |       - CAST(sx_b AS DOUBLE) / n_b)""".stripMargin), 6))
            .as("diff_adj"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS us FROM events),
             |cutoff AS (SELECT (MIN(us) + MAX(us)) // 2 AS cut FROM ev),
             |per AS (
             |  SELECT user_id % 2 = 0 AS grp_a,
             |    CAST(SUM(CASE WHEN us < cut THEN 1 ELSE 0 END) AS BIGINT) AS x,
             |    CAST(SUM(CASE WHEN us >= cut THEN 1 ELSE 0 END) AS BIGINT) AS y
             |  FROM ev CROSS JOIN cutoff GROUP BY user_id),
             |s AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             |    CAST(SUM(x * x) AS BIGINT) AS sxx,
             |    CAST(SUM(y * y) AS BIGINT) AS syy,
             |    CAST(SUM(x * y) AS BIGINT) AS sxy,
             |    CAST(SUM(CASE WHEN grp_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN grp_a THEN x ELSE 0 END) AS BIGINT) AS sx_a,
             |    CAST(SUM(CASE WHEN grp_a THEN y ELSE 0 END) AS BIGINT) AS sy_a,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN x ELSE 0 END) AS BIGINT) AS sx_b,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN y ELSE 0 END) AS BIGINT) AS sy_b
             |  FROM per)
             |SELECT n, n_a, n_b, sx, sy, sxy,
             |  CASE WHEN n_a > 0 AND n_b > 0 AND n * sxx - sx * sx > 0 THEN
             |    ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             |      / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS theta,
             |  CASE WHEN n_a > 0 AND n_b > 0 AND n * sxx - sx * sx > 0
             |      AND n * syy - sy * sy > 0 THEN
             |    ROUND(POW(CAST(n * sxy - sx * sy AS DOUBLE), 2)
             |      / (CAST(n * sxx - sx * sx AS DOUBLE)
             |         * CAST(n * syy - sy * sy AS DOUBLE)), 6)
             |  END AS var_reduction,
             |  CASE WHEN n_a > 0 AND n_b > 0 THEN
             |    ROUND(CAST(sy_a AS DOUBLE) / n_a
             |      - CAST(sy_b AS DOUBLE) / n_b, 6) END AS diff_raw,
             |  CASE WHEN n_a > 0 AND n_b > 0 AND n * sxx - sx * sx > 0 THEN
             |    ROUND(CAST(sy_a AS DOUBLE) / n_a - CAST(sy_b AS DOUBLE) / n_b
             |      - CAST(n * sxy - sx * sy AS DOUBLE)
             |        / CAST(n * sxx - sx * sx AS DOUBLE)
             |        * (CAST(sx_a AS DOUBLE) / n_a
             |           - CAST(sx_b AS DOUBLE) / n_b), 6) END AS diff_adj
             |FROM s""".stripMargin)),

    QueryDef("q_ab_test",
      (spark, sf) => {
        val users = load(spark, sf, "events")
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase" &&
              cents(col("value")) >= 15000L, 1L).otherwise(0L))
            .as("converted"))
        val g = users.groupBy((col("user_id") % 2 === 0).as("grp_a"))
          .agg(count(lit(1)).as("n"), sum(col("converted")).as("x"))
        val wide = g.agg(
          sum(when(col("grp_a"), col("n")).otherwise(0L)).as("n_a"),
          sum(when(col("grp_a"), col("x")).otherwise(0L)).as("x_a"),
          sum(when(!col("grp_a"), col("n")).otherwise(0L)).as("n_b"),
          sum(when(!col("grp_a"), col("x")).otherwise(0L)).as("x_b"))
        val ok = col("n_a") > 0 && col("n_b") > 0 &&
          col("x_a") + col("x_b") > 0 &&
          col("x_a") + col("x_b") < col("n_a") + col("n_b")
        wide.select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
            when(col("n_a") > 0,
              round(col("x_a") / col("n_a").cast("double"), 6)).as("rate_a"),
            when(col("n_b") > 0,
              round(col("x_b") / col("n_b").cast("double"), 6)).as("rate_b"),
            when(ok, round(expr(
              """CAST(x_a * n_b - x_b * n_a AS DOUBLE)
                |  * CAST(x_a * n_b - x_b * n_a AS DOUBLE)
                |  * (n_a + n_b)
                |  / CAST(n_a * n_b * (x_a + x_b)
                |         * (n_a + n_b - x_a - x_b) AS DOUBLE)""".stripMargin), 4))
              .as("z2"),
            when(ok, expr(
              """CASE WHEN CAST(x_a AS DOUBLE) * n_b > 9e17
                |    OR CAST(x_b AS DOUBLE) * n_a > 9e17
                |    OR POW(CAST(x_a AS DOUBLE) * n_b
                |           - CAST(x_b AS DOUBLE) * n_a, 2)
                |       * (n_a + n_b) > 1e34
                |    OR CAST(n_a AS DOUBLE) * n_b * (x_a + x_b)
                |       * (n_a + n_b - x_a - x_b) > 1e34
                |  THEN CAST(raise_error(CONCAT('q_ab_test: counts exceed the ',
                |    'DECIMAL(38) exact-decision domain (~1e7 users/arm) - ',
                |    'shard the experiment or decide on the z2 double')) AS INT)
                |  ELSE CAST(CAST(x_a * n_b - x_b * n_a AS DECIMAL(38,0))
                |    * (x_a * n_b - x_b * n_a) * (n_a + n_b) * 625
                |    >= CAST(2401 AS DECIMAL(38,0)) * n_a * n_b * (x_a + x_b)
                |       * (n_a + n_b - x_a - x_b) AS INT)
                |END""".stripMargin))
              .as("significant"))
      },
      Some("""WITH users AS (
             |  SELECT user_id,
             |    MAX(CASE WHEN event_type = 'purchase'
             |          AND CAST(ROUND(value * 100) AS BIGINT) >= 15000
             |        THEN 1 ELSE 0 END) AS converted
             |  FROM events GROUP BY user_id),
             |g AS (
             |  SELECT user_id % 2 = 0 AS grp_a, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(converted) AS BIGINT) AS x
             |  FROM users GROUP BY 1),
             |wide AS (
             |  SELECT
             |    SUM(CASE WHEN grp_a THEN n ELSE 0 END) AS n_a,
             |    SUM(CASE WHEN grp_a THEN x ELSE 0 END) AS x_a,
             |    SUM(CASE WHEN NOT grp_a THEN n ELSE 0 END) AS n_b,
             |    SUM(CASE WHEN NOT grp_a THEN x ELSE 0 END) AS x_b
             |  FROM g)
             |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
             |  CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
             |  CASE WHEN n_a > 0 THEN ROUND(x_a / CAST(n_a AS DOUBLE), 6) END AS rate_a,
             |  CASE WHEN n_b > 0 THEN ROUND(x_b / CAST(n_b AS DOUBLE), 6) END AS rate_b,
             |  CASE WHEN n_a > 0 AND n_b > 0 AND x_a + x_b > 0
             |         AND x_a + x_b < n_a + n_b THEN
             |    ROUND(CAST(x_a * n_b - x_b * n_a AS DOUBLE)
             |      * CAST(x_a * n_b - x_b * n_a AS DOUBLE)
             |      * (n_a + n_b)
             |      / CAST(n_a * n_b * (x_a + x_b)
             |             * (n_a + n_b - x_a - x_b) AS DOUBLE), 4) END AS z2,
             |  CASE WHEN n_a > 0 AND n_b > 0 AND x_a + x_b > 0
             |         AND x_a + x_b < n_a + n_b THEN
             |    CAST(CAST(x_a * n_b - x_b * n_a AS HUGEINT)
             |      * (x_a * n_b - x_b * n_a) * (n_a + n_b) * 625
             |      >= CAST(2401 AS HUGEINT) * n_a * n_b * (x_a + x_b)
             |         * (n_a + n_b - x_a - x_b) AS INT) END AS significant
             |FROM wide""".stripMargin)),

    // Leave-one-out target encoding — the standard categorical-feature
    // transform for tabular ML: each order's nation is encoded as the
    // mean order value of every OTHER order in that nation,
    // (S − x)/(n − 1), so a row never sees its own target (the leakage
    // that plain mean-encoding bakes in). Exact integer cents for S and
    // x; one nation-keyed aggregation broadcast back onto the scan —
    // the encoder table is |categories| rows at any corpus size.
    // Singleton categories yield NULL (no peers to learn from).
    QueryDef("q_target_encode",
      (spark, sf) => {
        val o = load(spark, sf, "orders").join(
          load(spark, sf, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_nationkey").as("nation"),
            expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
        val enc = o.groupBy(col("nation"))
          .agg(sum(col("cents")).as("s"), count(lit(1)).as("n"))
        o.join(broadcast(enc), Seq("nation"))
          .select(col("o_orderkey"), col("nation"), col("cents"),
            when(col("n") > 1,
              round((col("s") - col("cents")) /
                ((col("n") - 1) * lit(100.0)), 6)).as("loo_avg_dollars"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH o AS (
             |  SELECT o_orderkey, c_nationkey AS nation,
             |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |enc AS (SELECT nation, SUM(cents) s, COUNT(*) n
             |  FROM o GROUP BY nation)
             |SELECT o_orderkey, nation, cents,
             |  CASE WHEN n > 1
             |    THEN ROUND((s - cents) / ((n - 1) * 100.0), 6) END
             |    AS loo_avg_dollars
             |FROM o JOIN enc USING (nation)
             |ORDER BY o_orderkey""".stripMargin)),

    // Exact COUNT DISTINCT via additive bitmaps (the Druid/ClickHouse
    // bitmap-index pattern): customers are packed into 60-bit words
    // (word = key div 60, bit = key mod 60 — 60 not 64, so no shift
    // ever touches the sign bit and both engines' `<<` agree without
    // leaning on two's-complement edge semantics), per-(nation, month)
    // word bitmaps are BIT_OR aggregates, and the per-month distinct is
    // Σ bit_count. The point of the shape: the NATION-level distinct is
    // computed by OR-ing the month-level word bitmaps — the fact table
    // is scanned ONCE, and every further rollup level is an O(#words)
    // merge of mergeable partials, which is exactly what makes exact
    // distinct affordable at 100 TB (count(distinct) re-scans facts per
    // grouping level; bitmap partials re-aggregate like sums). The
    // months_per_cust ratio (member-months over distinct members) is
    // the one final double division. Word frames are |keyspace|/60 per
    // group — bounded by the dimension, not the fact count.
    QueryDef("q_bitmap_distinct",
      (spark, sf) => {
        val f = load(spark, sf, "orders")
          .select(col("o_custkey"), col("o_orderdate"))
          .join(load(spark, sf, "customer")
            .select(col("c_custkey").as("o_custkey"),
              col("c_nationkey").as("nation")), Seq("o_custkey"))
          .select(col("nation"), trunc(col("o_orderdate"), "month").as("month"),
            expr("o_custkey div 60").as("w"),
            expr("shiftleft(1L, int(o_custkey % 60))").as("m"))
        val wm = f.groupBy(col("nation"), col("month"), col("w"))
          .agg(expr("bit_or(m)").as("bm"))
        val monthly = wm.groupBy(col("nation"), col("month"))
          .agg(sum(bit_count(col("bm")).cast("long")).as("d"))
          .groupBy(col("nation"))
          .agg(count(lit(1)).as("n_months"), sum(col("d")).as("member_months"))
        val rollup = wm.groupBy(col("nation"), col("w"))
          .agg(expr("bit_or(bm)").as("bm"))
          .groupBy(col("nation"))
          .agg(sum(bit_count(col("bm")).cast("long")).as("n_distinct"))
        monthly.join(rollup, Seq("nation"))
          .select(col("nation"), col("n_months"), col("member_months"),
            col("n_distinct"),
            round(col("member_months") / col("n_distinct").cast("double"), 6)
              .as("months_per_cust"))
          .orderBy(col("nation"))
      },
      Some("""WITH f AS (
             |  SELECT c.c_nationkey AS nation,
             |    date_trunc('month', o.o_orderdate) AS month,
             |    o.o_custkey // 60 AS w,
             |    (CAST(1 AS BIGINT) << CAST(o.o_custkey % 60 AS INT)) AS m
             |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
             |wm AS (SELECT nation, month, w, BIT_OR(m) AS bm
             |       FROM f GROUP BY 1, 2, 3),
             |monthly AS (SELECT nation, month,
             |    SUM(CAST(bit_count(bm) AS BIGINT)) AS d
             |  FROM wm GROUP BY 1, 2),
             |mr AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_months,
             |    CAST(SUM(d) AS BIGINT) AS member_months
             |  FROM monthly GROUP BY 1),
             |nw AS (SELECT nation, w, BIT_OR(bm) AS bm FROM wm GROUP BY 1, 2),
             |nd AS (SELECT nation,
             |    CAST(SUM(CAST(bit_count(bm) AS BIGINT)) AS BIGINT) AS n_distinct
             |  FROM nw GROUP BY 1)
             |SELECT nation, n_months, member_months, n_distinct,
             |  ROUND(member_months / CAST(n_distinct AS DOUBLE), 6)
             |    AS months_per_cust
             |FROM mr JOIN nd USING (nation) ORDER BY nation""".stripMargin)),

    // Autocorrelation function (ACF) of the hourly event-count series —
    // the seasonality/persistence diagnostic behind lag selection for
    // the EWMA/Holt/Holt-Winters forecasters above. The corpus
    // collapses to per-(type, hour) counts in ONE fact shuffle; the
    // dense spine (gaps count as zero — the calendar IS the series) and
    // every lagged self-join then run on that tiny frame (|types| ×
    // #hours rows, bounded by the calendar, not the corpus), so 100 TB
    // of events costs exactly one aggregation scan no matter how many
    // lags are probed. Pearson sufficient statistics are exact
    // integers: the cross-product sums accumulate in DECIMAL(38,0)
    // (DuckDB: HUGEINT — the q_ab_test precision discipline), exact to
    // ~1e9 events/hour over a decade of hours, far past any real
    // corpus. r is ONE final double expression with identical
    // association order in both engines — a correctly-rounded IEEE
    // divide/sqrt chain, no libm pow/log — and zero-variance windows
    // emit NULL on both engines instead of dividing by zero.
    QueryDef("q_autocorr",
      (spark, sf) => {
        val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
        val hourly = load(spark, sf, "events")
          .select(col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("hx"))
          .groupBy(col("event_type"), col("hx"))
          .agg(count(lit(1)).as("y"))
        val dense = hourly.groupBy(col("event_type"))
          .agg(min(col("hx")).as("mn"), max(col("hx")).as("mx"))
          .select(col("event_type"), explode(expr("sequence(mn, mx)")).as("hx"))
          .join(hourly, Seq("event_type", "hx"), "left")
          .select(col("event_type"), col("hx"),
            coalesce(col("y"), lit(0L)).as("y"))
        val lagDf = spark.range(1)
          .select(explode(lit(Array(1L, 2L, 3L, 6L, 12L, 24L))).as("lag_h"))
        val rhs = dense.select(col("event_type").as("et2"),
          col("hx").as("h2"), col("y").as("yv"))
        dense.crossJoin(broadcast(lagDf))
          .join(rhs, col("event_type") === col("et2") &&
            col("h2") === col("hx") + col("lag_h"))
          .groupBy(col("event_type"), col("lag_h"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("y")).as("sx"), sum(col("yv")).as("sy"),
            sum(dec(col("y")) * col("yv")).as("sxy"),
            sum(dec(col("y")) * col("y")).as("sxx"),
            sum(dec(col("yv")) * col("yv")).as("syy"))
          .select(col("event_type"), col("lag_h"), col("n_pairs"),
            when(dec(col("n_pairs")) * col("sxx") - dec(col("sx")) * col("sx") > 0 &&
                dec(col("n_pairs")) * col("syy") - dec(col("sy")) * col("sy") > 0,
              round((dec(col("n_pairs")) * col("sxy") -
                  dec(col("sx")) * col("sy")).cast("double") /
                sqrt((dec(col("n_pairs")) * col("sxx") -
                    dec(col("sx")) * col("sx")).cast("double") *
                  (dec(col("n_pairs")) * col("syy") -
                    dec(col("sy")) * col("sy")).cast("double")), 6))
              .as("acf"))
          .orderBy(col("event_type"), col("lag_h"))
      },
      Some("""WITH hourly AS (
             |  SELECT event_type,
             |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
             |    CAST(COUNT(*) AS BIGINT) AS y
             |  FROM events GROUP BY 1, 2),
             |bounds AS (
             |  SELECT event_type, MIN(hx) AS mn, MAX(hx) AS mx
             |  FROM hourly GROUP BY 1),
             |dense AS (
             |  SELECT s.event_type, s.hx, COALESCE(h.y, 0) AS y
             |  FROM (SELECT event_type, unnest(generate_series(mn, mx)) AS hx
             |        FROM bounds) s
             |  LEFT JOIN hourly h
             |    ON s.event_type = h.event_type AND s.hx = h.hx),
             |lags AS (SELECT unnest([1, 2, 3, 6, 12, 24]) AS lag_h),
             |pairs AS (
             |  SELECT a.event_type, l.lag_h, a.y AS x, b.y AS yv
             |  FROM dense a CROSS JOIN lags l
             |  JOIN dense b ON b.event_type = a.event_type
             |    AND b.hx = a.hx + l.lag_h),
             |s AS (
             |  SELECT event_type, lag_h, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(yv AS HUGEINT)) AS sy,
             |    SUM(CAST(x AS HUGEINT) * yv) AS sxy,
             |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
             |    SUM(CAST(yv AS HUGEINT) * yv) AS syy
             |  FROM pairs GROUP BY 1, 2)
             |SELECT event_type, CAST(lag_h AS BIGINT) AS lag_h, n_pairs,
             |  CASE WHEN n_pairs * sxx - sx * sx > 0
             |         AND n_pairs * syy - sy * sy > 0 THEN
             |    ROUND(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
             |      / SQRT(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
             |             * CAST(n_pairs * syy - sy * sy AS DOUBLE)), 6)
             |  END AS acf
             |FROM s ORDER BY event_type, lag_h""".stripMargin)),

    // Common-neighbor link prediction over the divisor graph (the same
    // deterministic edge generator as q_k_core): for every NON-adjacent
    // vertex pair at distance 2, the common-neighbor count and the
    // neighborhood-Jaccard score cn / (deg_u + deg_v − cn) — the
    // classic friend-of-friend recommender primitive. Shape: candidate
    // pairs are enumerated through the shared middle vertex (ONE
    // adjacency self-join co-partitioned on the wedge center, the
    // q_triangle_count shape), existing edges are removed with a
    // left_anti join, and degrees join back from a tiny per-vertex
    // frame. The wedge fan-out is C(deg,2) per center — bounded here
    // because the divisor graph has max degree ~11 by construction; a
    // real 100 TB graph gets the cappedBasketEdges hub cut (cap +
    // measured-drop gate) on the center vertex before pairing, never
    // an uncapped hub explosion. All counts are exact integers; the
    // score is the one final double division; TopK is a
    // TakeOrderedAndProject (no global sort materialization) with a
    // total (score desc, u, v) order both engines share.
    QueryDef("q_common_neighbors",
      (spark, sf) => {
        val p = load(spark, sf, "part").filter(col("p_partkey") >= 1)
        val raw = p.select(col("p_partkey").cast("long").as("x"),
            expr("CAST(p_partkey div 2 AS BIGINT)").as("y"))
          .unionByName(p.select(col("p_partkey").cast("long").as("x"),
            expr("CAST(p_partkey div 3 AS BIGINT)").as("y")))
          .unionByName(p.filter(col("p_partkey") % 3 === 0)
            .select(col("p_partkey").cast("long").as("x"),
              expr("CAST(p_partkey div 5 AS BIGINT)").as("y")))
        val und = raw.filter(col("x") =!= col("y"))
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"))
          .distinct()
        val adj = und.select(col("a").as("u"), col("b").as("w"))
          .unionByName(und.select(col("b").as("u"), col("a").as("w")))
        val cn = adj.select(col("u"), col("w"))
          .join(adj.select(col("u").as("v"), col("w")), Seq("w"))
          .filter(col("u") < col("v"))
          .groupBy(col("u"), col("v"))
          .agg(count(lit(1)).as("cn"))
          .join(und, col("u") === col("a") && col("v") === col("b"),
            "left_anti")
        val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        cn.join(deg.select(col("u"), col("deg").as("du")), Seq("u"))
          .join(deg.select(col("u").as("v"), col("deg").as("dv")), Seq("v"))
          .filter(col("cn") >= 2)
          .select(col("u"), col("v"), col("cn"), col("du"), col("dv"),
            round(col("cn").cast("double") /
              (col("du") + col("dv") - col("cn")), 6).as("jaccard"))
          .orderBy(col("jaccard").desc, col("u"), col("v"))
          .limit(100)
      },
      Some("""WITH e0 AS (
             |  SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b FROM (
             |    SELECT CAST(p_partkey AS BIGINT) a,
             |      CAST(p_partkey // 2 AS BIGINT) b
             |    FROM part WHERE p_partkey >= 1
             |    UNION ALL
             |    SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey // 3 AS BIGINT)
             |    FROM part WHERE p_partkey >= 1
             |    UNION ALL
             |    SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey // 5 AS BIGINT)
             |    FROM part WHERE p_partkey >= 1 AND p_partkey % 3 = 0)
             |  WHERE a <> b),
             |adj AS (
             |  SELECT a AS u, b AS w FROM e0
             |  UNION ALL SELECT b, a FROM e0),
             |cn AS (
             |  SELECT x.u, y.u AS v, CAST(COUNT(*) AS BIGINT) AS cn
             |  FROM adj x JOIN adj y ON x.w = y.w AND x.u < y.u
             |  GROUP BY 1, 2),
             |nonadj AS (
             |  SELECT c.* FROM cn c
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM e0 WHERE e0.a = c.u AND e0.b = c.v)),
             |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
             |        FROM adj GROUP BY 1)
             |SELECT n.u, n.v, n.cn, du.deg AS du, dv.deg AS dv,
             |  ROUND(CAST(n.cn AS DOUBLE) / (du.deg + dv.deg - n.cn), 6)
             |    AS jaccard
             |FROM nonadj n
             |JOIN deg du ON du.u = n.u
             |JOIN deg dv ON dv.u = n.v
             |WHERE n.cn >= 2
             |ORDER BY jaccard DESC, n.u, n.v LIMIT 100""".stripMargin)),

    // Exact weighted median per group — the order statistic
    // q_percentiles/q_exact_quantiles (row-weighted) cannot express:
    // the price point at which half the shipped QUANTITY sits below.
    // Corpus collapses to per-(flag, cents) weight sums in one
    // shuffle; the cumulative weight runs in a PARTITIONED window
    // (the group key keeps it distributed — never SinglePartition),
    // and the lower weighted median is the deterministic integer rule
    // min{v : 2·cumw(v) ≥ W}. All integers end to end.
    QueryDef("q_weighted_median",
      (spark, sf) => {
        val per = load(spark, sf, "lineitem")
          .select(col("l_returnflag").as("flag"),
            cents(col("l_extendedprice")).as("v"),
            col("l_quantity").cast("long").as("w"))
          .groupBy(col("flag"), col("v")).agg(sum(col("w")).as("w"))
        val wnd = Window.partitionBy(col("flag")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        per.select(col("flag"), col("v"),
            sum(col("w")).over(wnd).as("cumw"),
            sum(col("w")).over(Window.partitionBy(col("flag"))).as("tot"))
          .filter(col("cumw") * 2 >= col("tot"))
          .groupBy(col("flag"))
          .agg(max(col("tot")).as("total_qty"),
            min(col("v")).as("median_cents"))
          .orderBy(col("flag"))
      },
      Some("""WITH per AS (
             |  SELECT l_returnflag AS flag,
             |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
             |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
             |  FROM lineitem GROUP BY 1, 2),
             |c AS (
             |  SELECT flag, v,
             |    SUM(w) OVER (PARTITION BY flag ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS cumw,
             |    SUM(w) OVER (PARTITION BY flag) AS tot
             |  FROM per)
             |SELECT flag, CAST(MAX(tot) AS BIGINT) AS total_qty,
             |  CAST(MIN(v) AS BIGINT) AS median_cents
             |FROM c WHERE cumw * 2 >= tot
             |GROUP BY flag ORDER BY flag""".stripMargin)),

    // Gaps-and-islands activity streaks — the consecutive-day
    // engagement metric (DAU streaks) the sessionizer's 30-minute
    // grain cannot express: per user, distinct active DAYS collapse in
    // one shuffle, islands come from the classic day-number minus
    // row-number constant (both computed in ONE user-partitioned
    // window pass — distributed by the partition key), and per-user
    // streak stats aggregate the island frame. Pure date/integer
    // arithmetic; both engines count days since the same epoch.
    QueryDef("q_streaks",
      (spark, sf) => {
        val days = load(spark, sf, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
        val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        val isl = days
          .select(col("user_id"), col("day"),
            (expr("datediff(day, DATE'1970-01-01')") -
              row_number().over(w)).as("grp"))
          .groupBy(col("user_id"), col("grp"))
          .agg(count(lit(1)).as("len"))
        isl.groupBy(col("user_id"))
          .agg(max(col("len")).as("longest_streak"),
            sum(col("len")).as("active_days"),
            count(lit(1)).as("n_streaks"))
          .orderBy(col("user_id"))
      },
      Some("""WITH days AS (
             |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
             |isl AS (
             |  SELECT user_id,
             |    (day - DATE '1970-01-01')
             |      - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
             |      AS grp
             |  FROM days),
             |g AS (
             |  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
             |  FROM isl GROUP BY 1, 2)
             |SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
             |  CAST(SUM(len) AS BIGINT) AS active_days,
             |  CAST(COUNT(*) AS BIGINT) AS n_streaks
             |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Kaplan–Meier survival curve — the censoring-aware time-to-churn
    // estimator (the product-limit estimator, Kaplan & Meier 1958)
    // that a naive churn rate gets wrong: users still active at the
    // observation horizon are CENSORED (they leave the risk set
    // without counting as churn), never "not churned yet" noise.
    // Duration = days between a user's first and last event; churn =
    // last activity more than 7 days before the corpus horizon. The
    // corpus collapses in ONE user-keyed shuffle; the per-duration
    // frame is calendar-bounded (≤ #distinct durations), and the
    // product limit Ŝ(t) = Π (1 − dᵢ/nᵢ) folds over it in integer
    // micro-units via a sorted-array aggregate (the q_holt_winters
    // fold discipline — deterministic order, truncating division both
    // engines; the oracle replays it as a recursive CTE). Risk sets
    // come from the SAME fold (nᵢ = total − processed), so no suffix
    // window is ever planned. sᵢ·nᵢ ≤ 10⁶·|users| keeps the fold
    // BIGINT-exact to ~9·10¹² users.
    QueryDef("q_survival",
      (spark, sf) => {
        val per = load(spark, sf, "events")
          .groupBy(col("user_id"))
          .agg(min(expr("unix_micros(ts)")).as("f"),
            max(expr("unix_micros(ts)")).as("l"))
        val gl = per.agg(max(col("l")).as("gmax"))
        val byT = per.crossJoin(broadcast(gl))
          .select(expr("(l - f) div 86400000000").as("t"),
            when(col("l") < col("gmax") - 604800000000L, 1L)
              .otherwise(0L).as("churn"))
          .groupBy(col("t"))
          .agg(count(lit(1)).as("n_at"), sum(col("churn")).as("d"))
        val tot = byT.agg(sum(col("n_at")).as("tot"))
        byT.crossJoin(broadcast(tot))
          .groupBy(col("tot"))
          .agg(expr("sort_array(collect_list(struct(t, n_at, d)))").as("xs"))
          .select(explode(expr(
            """aggregate(xs,
              |  named_struct('cum', 0L, 's', 1000000L,
              |    'out', CAST(array() AS
              |      ARRAY<STRUCT<t: BIGINT, n_risk: BIGINT,
              |                   d: BIGINT, s_ppm: BIGINT>>)),
              |  (acc, x) -> named_struct(
              |    'cum', acc.cum + x.n_at,
              |    's', acc.s * (tot - acc.cum - x.d) div (tot - acc.cum),
              |    'out', array_append(acc.out, named_struct(
              |      't', x.t, 'n_risk', tot - acc.cum, 'd', x.d,
              |      's_ppm', acc.s * (tot - acc.cum - x.d)
              |        div (tot - acc.cum)))),
              |  acc -> acc.out)""".stripMargin)).as("r"))
          .select(col("r.t").as("t_days"), col("r.n_risk"), col("r.d"),
            col("r.s_ppm"))
          .orderBy(col("t_days"))
      },
      Some("""WITH RECURSIVE per AS (
             |  SELECT user_id, MIN(epoch_us(ts)) AS f, MAX(epoch_us(ts)) AS l
             |  FROM events GROUP BY 1),
             |g AS (SELECT MAX(l) AS gmax FROM per),
             |byt AS (
             |  SELECT (l - f) // 86400000000 AS t,
             |    CAST(COUNT(*) AS BIGINT) AS n_at,
             |    CAST(SUM(CASE WHEN l < g.gmax - 604800000000 THEN 1
             |             ELSE 0 END) AS BIGINT) AS d
             |  FROM per CROSS JOIN g GROUP BY 1),
             |tot AS (SELECT CAST(SUM(n_at) AS BIGINT) AS tot FROM byt),
             |ord AS (
             |  SELECT t, n_at, d, ROW_NUMBER() OVER (ORDER BY t) AS rn
             |  FROM byt),
             |km(rn, cum, s) AS (
             |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             |    CAST(1000000 AS BIGINT)
             |  UNION ALL
             |  SELECT o.rn, km.cum + o.n_at,
             |    km.s * (tot.tot - km.cum - o.d) // (tot.tot - km.cum)
             |  FROM km JOIN ord o ON o.rn = km.rn + 1 CROSS JOIN tot)
             |SELECT o.t AS t_days,
             |  CAST(tot.tot - prev.cum AS BIGINT) AS n_risk, o.d,
             |  CAST(cur.s AS BIGINT) AS s_ppm
             |FROM ord o
             |JOIN km cur ON cur.rn = o.rn
             |JOIN km prev ON prev.rn = o.rn - 1
             |CROSS JOIN tot
             |ORDER BY t_days""".stripMargin)),

    // Two-sample Kolmogorov–Smirnov test — the distribution-drift
    // primitive next to q_chi_square (categorical) and q_ab_test
    // (proportions): does order value distribute differently for
    // BUILDING-segment customers? D is the max CDF gap, computed
    // EXACTLY: per-cents counts collapse the corpus in one shuffle,
    // both groups' CDFs come from ONE distributed inclusive prefix-sum
    // pass ([[graft.ops.Rank.runningSumsInclusive]] — a range-
    // partitioned sort + O(partitions) seeds, never the
    // single-partition window the textbook SQL plans), and the gap is
    // the integer |c1·n2 − c2·n1| (implicitly scaled by n1·n2). The
    // α=0.05 decision is the pure cross-multiplied integer comparison
    // D_num²·10⁶ ≥ 1844164·(n1+n2)·n1·n2 (1.358² = 1.844164) in
    // DECIMAL(38)/HUGEINT; its exact domain (D_num²·10⁶ inside 38
    // digits) holds to ~5·10⁷ orders per side, and the guard below
    // fails LOUDLY past a 10×-margined pre-check instead of silently
    // NULLing (the q_ab_test discipline). Displayed D is the one final
    // double division.
    QueryDef("q_ks_test",
      (spark, sf) => {
        val j = load(spark, sf, "orders")
          .join(load(spark, sf, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(cents(col("o_totalprice")).as("v"),
            when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
              .as("g"))
        val per = j.groupBy(col("v"))
          .agg(sum(col("g")).as("n1"),
            (count(lit(1)) - sum(col("g"))).as("n2"))
        val tot = per.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
        val cum = graft.ops.Rank.runningSumsInclusive(
          per, Seq(col("v")), Seq("n1", "n2"))
        cum.crossJoin(broadcast(tot))
          .select(col("t1"), col("t2"),
            abs(col("n1_cum") * col("t2") - col("n2_cum") * col("t1"))
              .as("gap"))
          .groupBy(col("t1"), col("t2"))
          .agg(max(col("gap")).as("d_num"))
          .select(col("t1").as("n1"), col("t2").as("n2"), col("d_num"),
            round(col("d_num").cast("double") /
              (col("t1").cast("double") * col("t2")), 6).as("d"),
            expr("""CASE WHEN CAST(d_num AS DOUBLE) * d_num > 1e31
              |  OR CAST(t1 + t2 AS DOUBLE) * t1 * t2 > 1e31
              |  THEN CAST(raise_error(CONCAT('q_ks_test: counts exceed ',
              |    'the DECIMAL(38) exact-decision domain (~5e7 orders ',
              |    'per side) - shard or decide on the double D')) AS INT)
              |  ELSE CAST(CAST(d_num AS DECIMAL(38,0)) * d_num * 1000000
              |    >= CAST(1844164 AS DECIMAL(38,0)) * (t1 + t2) * t1 * t2
              |    AS INT)
              |END""".stripMargin).as("significant"))
      },
      Some("""WITH j AS (
             |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
             |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |per AS (
             |  SELECT v, CAST(SUM(g) AS BIGINT) AS n1,
             |    CAST(COUNT(*) - SUM(g) AS BIGINT) AS n2
             |  FROM j GROUP BY v),
             |tot AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1,
             |               CAST(SUM(n2) AS BIGINT) AS t2 FROM per),
             |cum AS (
             |  SELECT v, SUM(n1) OVER w AS c1, SUM(n2) OVER w AS c2
             |  FROM per
             |  WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
             |gap AS (
             |  SELECT t1, t2,
             |    MAX(ABS(CAST(c1 AS BIGINT) * t2 - CAST(c2 AS BIGINT) * t1))
             |      AS d_num
             |  FROM cum CROSS JOIN tot GROUP BY t1, t2)
             |SELECT t1 AS n1, t2 AS n2, CAST(d_num AS BIGINT) AS d_num,
             |  ROUND(CAST(d_num AS DOUBLE)
             |    / (CAST(t1 AS DOUBLE) * t2), 6) AS d,
             |  CAST(CAST(d_num AS HUGEINT) * d_num * 1000000
             |    >= CAST(1844164 AS HUGEINT) * (t1 + t2) * t1 * t2
             |    AS INT) AS significant
             |FROM gap""".stripMargin)),

    // Mann–Whitney U (Wilcoxon rank-sum) test — the NONPARAMETRIC
    // location test completing the experimentation suite (q_ab_test
    // proportions, q_welch_ttest means, q_ks_test whole-distribution,
    // q_chi_square categorical): do BUILDING-segment order values sit
    // systematically higher/lower than the rest, judged on RANKS so no
    // normality assumption? Exact everywhere: the corpus collapses to
    // per-cents-value counts in one shuffle; tied-value average ranks
    // come from ONE distributed inclusive prefix-sum pass
    // ([[graft.ops.Rank.runningSumsInclusive]] — range sort +
    // O(partitions) seeds, never a single-partition window) carried in
    // DOUBLED units (avg rank of a t-way tie ending at cumulative c is
    // (2c−t+1)/2, so 2·R₁ = Σ n₁(v)·(2c−t+1) is an exact BIGINT);
    // U₁ doubled = 2R₁ − n₁(n₁+1). The normal-approximation z² (no
    // continuity correction; tie-corrected variance) is ONE double
    // expression — z² = 3n(n−1)d² / (n₁n₂W) with d = 2U₁ − n₁n₂ and
    // W = (n+1)n(n−1) − Σ(t³−t) — and the α=0.05 verdict is decided
    // EXACTLY by the cross-multiplied integer comparison
    // 1875·n(n−1)·d² ≥ 2401·n₁n₂·W in DECIMAL(38)/HUGEINT, with the
    // q_ab_test raise_error tripwire outside a 10×-margined domain
    // pre-check. Tie cubes t³ are summed in DECIMAL(38) (a 2M-deep tie
    // would wrap BIGINT); degenerate designs (an empty arm, or W = 0 —
    // every observation tied) emit NULL z²/verdict on both engines.
    QueryDef("q_mann_whitney",
      (spark, sf) => {
        val j = load(spark, sf, "orders")
          .join(load(spark, sf, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(cents(col("o_totalprice")).as("v"),
            when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
              .as("g"))
        val per = j.groupBy(col("v"))
          .agg(sum(col("g")).as("n1"),
            (count(lit(1)) - sum(col("g"))).as("n2"))
          .withColumn("t", col("n1") + col("n2"))
        val cum = graft.ops.Rank.runningSumsInclusive(
          per, Seq(col("v")), Seq("t"))
        val stats = cum.agg(
          sum(col("n1")).as("n1t"),
          sum(col("n2")).as("n2t"),
          sum(col("n1") * (col("t_cum") * 2 - col("t") + 1)).as("r1_x2"),
          sum(expr("CAST(t AS DECIMAL(38,0)) * t * t - t"))
            .cast("long").as("ties"))
        stats.select(
          col("n1t").as("n1"), col("n2t").as("n2"),
          (col("r1_x2") - col("n1t") * (col("n1t") + 1)).as("u1_x2"),
          col("ties"),
          expr("""CASE WHEN n1t > 0 AND n2t > 0
            |  AND CAST(n1t + n2t + 1 AS DOUBLE) * (n1t + n2t)
            |      * (n1t + n2t - 1) - ties > 0 THEN
            |  ROUND(POW(CAST(r1_x2 - n1t * (n1t + 1) - n1t * n2t AS DOUBLE), 2)
            |      * 3 * (n1t + n2t) * (n1t + n2t - 1)
            |    / (CAST(n1t AS DOUBLE) * n2t
            |       * (CAST(n1t + n2t + 1 AS DOUBLE) * (n1t + n2t)
            |          * (n1t + n2t - 1) - ties)), 4)
            |END""".stripMargin).as("z2"),
          expr("""CASE WHEN n1t <= 0 OR n2t <= 0
            |    OR CAST(n1t + n2t + 1 AS DOUBLE) * (n1t + n2t)
            |       * (n1t + n2t - 1) - ties <= 0 THEN CAST(NULL AS INT)
            |  WHEN 1875 * POW(CAST(r1_x2 - n1t * (n1t + 1) - n1t * n2t
            |        AS DOUBLE), 2) * (n1t + n2t) * (n1t + n2t - 1) > 1e36
            |    OR 2401 * (CAST(n1t AS DOUBLE) * n2t)
            |       * (CAST(n1t + n2t + 1 AS DOUBLE) * (n1t + n2t)
            |          * (n1t + n2t - 1)) > 1e36
            |  THEN CAST(raise_error(CONCAT('q_mann_whitney: counts exceed ',
            |    'the DECIMAL(38) exact-decision domain - shard the metric ',
            |    'or decide on the z2 double')) AS INT)
            |  ELSE CAST(
            |    CAST(1875 AS DECIMAL(38,0)) * (n1t + n2t) * (n1t + n2t - 1)
            |      * (r1_x2 - n1t * (n1t + 1) - n1t * n2t)
            |      * (r1_x2 - n1t * (n1t + 1) - n1t * n2t)
            |    >= CAST(2401 AS DECIMAL(38,0)) * n1t * n2t
            |      * (CAST(n1t + n2t + 1 AS DECIMAL(38,0)) * (n1t + n2t)
            |         * (n1t + n2t - 1) - ties)
            |    AS INT) END""".stripMargin).as("significant"))
      },
      Some("""WITH j AS (
             |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
             |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |per AS (
             |  SELECT v, CAST(SUM(g) AS BIGINT) AS n1,
             |    CAST(COUNT(*) - SUM(g) AS BIGINT) AS n2,
             |    CAST(COUNT(*) AS BIGINT) AS t
             |  FROM j GROUP BY v),
             |cum AS (
             |  SELECT n1, n2, t,
             |    CAST(SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
             |      AS BIGINT) AS t_cum
             |  FROM per),
             |stats AS (
             |  SELECT CAST(SUM(n1) AS BIGINT) AS n1t,
             |    CAST(SUM(n2) AS BIGINT) AS n2t,
             |    CAST(SUM(n1 * (t_cum * 2 - t + 1)) AS BIGINT) AS r1_x2,
             |    CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS BIGINT) AS ties
             |  FROM cum)
             |SELECT n1t AS n1, n2t AS n2,
             |  CAST(r1_x2 - n1t * (n1t + 1) AS BIGINT) AS u1_x2, ties,
             |  CASE WHEN n1t > 0 AND n2t > 0
             |    AND CAST(n1t + n2t + 1 AS DOUBLE) * (n1t + n2t)
             |        * (n1t + n2t - 1) - ties > 0 THEN
             |    ROUND(POW(CAST(r1_x2 - n1t * (n1t + 1) - n1t * n2t AS DOUBLE), 2)
             |        * 3 * (n1t + n2t) * (n1t + n2t - 1)
             |      / (CAST(n1t AS DOUBLE) * n2t
             |         * (CAST(n1t + n2t + 1 AS DOUBLE) * (n1t + n2t)
             |            * (n1t + n2t - 1) - ties)), 4)
             |  END AS z2,
             |  CASE WHEN n1t <= 0 OR n2t <= 0
             |      OR CAST(n1t + n2t + 1 AS DOUBLE) * (n1t + n2t)
             |         * (n1t + n2t - 1) - ties <= 0 THEN CAST(NULL AS INT)
             |    ELSE CAST(
             |      CAST(1875 AS HUGEINT) * (n1t + n2t) * (n1t + n2t - 1)
             |        * (r1_x2 - n1t * (n1t + 1) - n1t * n2t)
             |        * (r1_x2 - n1t * (n1t + 1) - n1t * n2t)
             |      >= CAST(2401 AS HUGEINT) * n1t * n2t
             |        * (CAST(n1t + n2t + 1 AS HUGEINT) * (n1t + n2t)
             |           * (n1t + n2t - 1) - ties)
             |      AS INT) END AS significant
             |FROM stats""".stripMargin)),

    // Kruskal–Wallis H test — the k-SAMPLE extension of q_mann_whitney
    // (one-way ANOVA on ranks): does order value distribute identically
    // across ALL FIVE TPC-H market segments? Same exact machinery: one
    // shuffle to per-cents-value counts pivoted into the five fixed
    // segment columns, tied-value average ranks in doubled-integer
    // units from the SAME single distributed prefix-sum pass
    // ([[graft.ops.Rank.runningSumsInclusive]]), per-group doubled rank
    // sums R_jd = Σ n_j(v)·(2c−t+1) as exact BIGINTs. The tie-corrected
    // statistic H = 3(n−1)·(Σ R_jd²/n_j − n(n+1)²) / W (W as in
    // q_mann_whitney) is ONE double expression with identical text in
    // both engines — and unlike the two-sample tests the α=0.05
    // verdict (χ²₍₄₎ ≥ 9.4877) compares that SAME bit-identical double,
    // because clearing the five n_j denominators exactly would push the
    // cross-products past DECIMAL(38) at corpus sizes the doubles
    // handle fine (documented trade: identical expression text ⇒
    // identical IEEE result ⇒ still engine-deterministic). Degenerate
    // designs (any empty segment, or W = 0) emit NULL on both engines.
    QueryDef("q_kruskal_wallis",
      (spark, sf) => {
        val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY")
        val j = load(spark, sf, "orders")
          .join(load(spark, sf, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(cents(col("o_totalprice")).as("v"),
            col("c_mktsegment").as("seg"))
        val per = j.groupBy(col("v"))
          .agg(count(lit(1)).as("t"),
            segs.zipWithIndex.map { case (s, i) =>
              sum(when(col("seg") === s, 1L).otherwise(0L)).as(s"g${i + 1}")
            }: _*)
        val cum = graft.ops.Rank.runningSumsInclusive(
          per, Seq(col("v")), Seq("t"))
        val stats = cum.agg(
          sum(col("t")).as("nn"),
          (segs.indices.map(i =>
              sum(col(s"g${i + 1}")).as(s"n${i + 1}")) ++
           segs.indices.map(i =>
             sum(col(s"g${i + 1}") * (col("t_cum") * 2 - col("t") + 1))
               .as(s"r${i + 1}")) ++
           Seq(sum(expr("CAST(t AS DECIMAL(38,0)) * t * t - t"))
             .cast("long").as("ties"))): _*)
        val ok = segs.indices.map(i => col(s"n${i + 1}") > 0)
          .reduce(_ && _) &&
          expr("CAST(nn + 1 AS DOUBLE) * nn * (nn - 1) - ties") > 0
        val hText =
          """3 * (nn - 1)
            |  * (POW(CAST(r1 AS DOUBLE), 2) / n1
            |     + POW(CAST(r2 AS DOUBLE), 2) / n2
            |     + POW(CAST(r3 AS DOUBLE), 2) / n3
            |     + POW(CAST(r4 AS DOUBLE), 2) / n4
            |     + POW(CAST(r5 AS DOUBLE), 2) / n5
            |     - CAST(nn AS DOUBLE) * (nn + 1) * (nn + 1))
            |  / (CAST(nn + 1 AS DOUBLE) * nn * (nn - 1) - ties)""".stripMargin
        stats.select(col("nn").as("n") +:
          (segs.indices.map(i => col(s"n${i + 1}")) ++
           segs.indices.map(i => col(s"r${i + 1}")) ++
           Seq(col("ties"),
             when(ok, round(expr(hText), 4)).as("h"),
             when(ok, expr(s"CAST($hText >= 9.4877 AS INT)"))
               .as("significant"))): _*)
      },
      Some("""WITH j AS (
             |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
             |    c_mktsegment AS seg
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |per AS (
             |  SELECT v, CAST(COUNT(*) AS BIGINT) AS t,
             |    CAST(SUM(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS g1,
             |    CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS g2,
             |    CAST(SUM(CASE WHEN seg = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS g3,
             |    CAST(SUM(CASE WHEN seg = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS g4,
             |    CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS g5
             |  FROM j GROUP BY v),
             |cum AS (
             |  SELECT t, g1, g2, g3, g4, g5,
             |    CAST(SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
             |      AS BIGINT) AS t_cum
             |  FROM per),
             |stats AS (
             |  SELECT CAST(SUM(t) AS BIGINT) AS nn,
             |    CAST(SUM(g1) AS BIGINT) AS n1, CAST(SUM(g2) AS BIGINT) AS n2,
             |    CAST(SUM(g3) AS BIGINT) AS n3, CAST(SUM(g4) AS BIGINT) AS n4,
             |    CAST(SUM(g5) AS BIGINT) AS n5,
             |    CAST(SUM(g1 * (t_cum * 2 - t + 1)) AS BIGINT) AS r1,
             |    CAST(SUM(g2 * (t_cum * 2 - t + 1)) AS BIGINT) AS r2,
             |    CAST(SUM(g3 * (t_cum * 2 - t + 1)) AS BIGINT) AS r3,
             |    CAST(SUM(g4 * (t_cum * 2 - t + 1)) AS BIGINT) AS r4,
             |    CAST(SUM(g5 * (t_cum * 2 - t + 1)) AS BIGINT) AS r5,
             |    CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS BIGINT) AS ties
             |  FROM cum)
             |SELECT nn AS n, n1, n2, n3, n4, n5, r1, r2, r3, r4, r5, ties,
             |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND n5 > 0
             |      AND CAST(nn + 1 AS DOUBLE) * nn * (nn - 1) - ties > 0 THEN
             |    ROUND(3 * (nn - 1)
             |      * (POW(CAST(r1 AS DOUBLE), 2) / n1
             |         + POW(CAST(r2 AS DOUBLE), 2) / n2
             |         + POW(CAST(r3 AS DOUBLE), 2) / n3
             |         + POW(CAST(r4 AS DOUBLE), 2) / n4
             |         + POW(CAST(r5 AS DOUBLE), 2) / n5
             |         - CAST(nn AS DOUBLE) * (nn + 1) * (nn + 1))
             |      / (CAST(nn + 1 AS DOUBLE) * nn * (nn - 1) - ties), 4)
             |  END AS h,
             |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND n5 > 0
             |      AND CAST(nn + 1 AS DOUBLE) * nn * (nn - 1) - ties > 0 THEN
             |    CAST(3 * (nn - 1)
             |      * (POW(CAST(r1 AS DOUBLE), 2) / n1
             |         + POW(CAST(r2 AS DOUBLE), 2) / n2
             |         + POW(CAST(r3 AS DOUBLE), 2) / n3
             |         + POW(CAST(r4 AS DOUBLE), 2) / n4
             |         + POW(CAST(r5 AS DOUBLE), 2) / n5
             |         - CAST(nn AS DOUBLE) * (nn + 1) * (nn + 1))
             |      / (CAST(nn + 1 AS DOUBLE) * nn * (nn - 1) - ties)
             |      >= 9.4877 AS INT)
             |  END AS significant
             |FROM stats""".stripMargin)),

    // Wald's sequential probability ratio test (SPRT, Wald 1945 —
    // public) — the SEQUENTIAL member of the experimentation suite: an
    // always-valid monitor that walks the event stream in event-time
    // order accumulating the log-likelihood ratio for H₁: p=0.20 vs
    // H₀: p=0.15 ("is the purchase rate at least 20%?") and stops at
    // the first Wald boundary crossing (α=β=0.05 ⇒ ±ln 19). Engine-
    // exact by construction: the per-trial LLR increments are the two
    // HARDCODED integer micro-unit constants 287682 = ⌊10⁶·ln(.20/.15)⌉
    // and −60625 = ⌊10⁶·ln(.80/.85)⌉, so the cumulative LLR is an exact
    // integer sum (order-independent, retry-safe) and the boundary
    // ±2944439 = ⌊10⁶·ln 19⌉ an exact integer comparison. The running
    // LLR and trial index come from ONE distributed inclusive
    // prefix-sum pass over the (ts, event_id) total order
    // ([[graft.ops.Rank.runningSumsInclusive]] — never a single-
    // partition window); the stopping point is a min_by over crossing
    // rows. A stream that never crosses reports 'continue' (NULL
    // decision stats) on both engines.
    QueryDef("q_sprt",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
          .select(expr("unix_micros(ts)").as("us"), col("event_id"),
            when(col("event_type") === "purchase", 287682L)
              .otherwise(-60625L).as("inc"),
            lit(1L).as("one"))
        val cum = graft.ops.Rank.runningSumsInclusive(
          ev, Seq(col("us"), col("event_id")), Seq("inc", "one"))
        val tot = cum.agg(
          max(col("one_cum")).as("n_total"),
          max_by(col("inc_cum"), col("one_cum")).as("llr_final"))
        val dec = cum
          .filter(col("inc_cum") >= 2944439L || col("inc_cum") <= -2944439L)
          .agg(min(col("one_cum")).as("n_decision"),
            min_by(col("inc_cum"), col("one_cum")).as("llr_decision"))
        tot.crossJoin(dec)
          .select(col("n_total"), col("llr_final"),
            col("n_decision"), col("llr_decision"),
            expr("""CASE WHEN llr_decision >= 2944439 THEN 'accept_h1'
              |  WHEN llr_decision <= -2944439 THEN 'accept_h0'
              |  ELSE 'continue' END""".stripMargin).as("decision"))
      },
      Some("""WITH ev AS (
             |  SELECT epoch_us(ts) AS us, event_id,
             |    CASE WHEN event_type = 'purchase' THEN 287682
             |         ELSE -60625 END AS inc
             |  FROM events),
             |cum AS (
             |  SELECT
             |    CAST(SUM(inc) OVER (ORDER BY us, event_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS llr,
             |    CAST(ROW_NUMBER() OVER (ORDER BY us, event_id)
             |      AS BIGINT) AS rn
             |  FROM ev),
             |tot AS (
             |  SELECT CAST(MAX(rn) AS BIGINT) AS n_total,
             |    CAST(MAX_BY(llr, rn) AS BIGINT) AS llr_final FROM cum),
             |dec AS (
             |  SELECT CAST(MIN(rn) AS BIGINT) AS n_decision,
             |    CAST(MIN_BY(llr, rn) AS BIGINT) AS llr_decision
             |  FROM cum WHERE llr >= 2944439 OR llr <= -2944439)
             |SELECT n_total, llr_final, n_decision, llr_decision,
             |  CASE WHEN llr_decision >= 2944439 THEN 'accept_h1'
             |    WHEN llr_decision <= -2944439 THEN 'accept_h0'
             |    ELSE 'continue' END AS decision
             |FROM tot CROSS JOIN dec""".stripMargin)),

    // Hour-of-day seasonal index — the multiplicative seasonality
    // profile (retail "hour curve") that complements the trend
    // (q_rolling_regression), smoothing (q_exp_smoothing /
    // q_holt_winters) and persistence (q_autocorr) diagnostics: for
    // each event type and hour-of-day h, the ratio of the mean count
    // in bucket h to the overall mean, in ppm. Built on the SAME dense
    // calendar spine as q_autocorr (absent hours are zeros — the
    // calendar is the series, so a quiet 3 AM deflates the index
    // instead of vanishing), which one fact shuffle produces; the
    // 24-bucket rollup is calendar-bounded. The index is one exact
    // integer expression — (sum_h · N_hours · 1e6) div (n_h · S_total)
    // — accumulated in DECIMAL(38,0)/HUGEINT (the q_autocorr
    // discipline), exact far past any real corpus, and truncating
    // division agrees across engines.
    QueryDef("q_seasonality",
      (spark, sf) => {
        val hourly = load(spark, sf, "events")
          .select(col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("hx"))
          .groupBy(col("event_type"), col("hx"))
          .agg(count(lit(1)).as("y"))
        val dense = hourly.groupBy(col("event_type"))
          .agg(min(col("hx")).as("mn"), max(col("hx")).as("mx"))
          .select(col("event_type"), explode(expr("sequence(mn, mx)")).as("hx"))
          .join(hourly, Seq("event_type", "hx"), "left")
          .select(col("event_type"), col("hx"),
            coalesce(col("y"), lit(0L)).as("y"))
        val buckets = dense
          .groupBy(col("event_type"), (col("hx") % 24).as("hod"))
          .agg(count(lit(1)).as("n_hours"), sum(col("y")).as("sum_y"))
        val totals = buckets.groupBy(col("event_type"))
          .agg(sum(col("n_hours")).as("nn"), sum(col("sum_y")).as("ss"))
        buckets.join(totals, Seq("event_type"))
          .filter(col("ss") > 0)
          .select(col("event_type"), col("hod"), col("n_hours"),
            col("sum_y"),
            expr("CAST(sum_y AS DECIMAL(38,0)) * nn * 1000000" +
              " div (CAST(n_hours AS DECIMAL(38,0)) * ss)")
              .cast("long").as("seasonal_ppm"))
          .orderBy(col("event_type"), col("hod"))
      },
      Some("""WITH hourly AS (
             |  SELECT event_type,
             |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS hx,
             |    CAST(COUNT(*) AS BIGINT) AS y
             |  FROM events GROUP BY 1, 2),
             |bounds AS (
             |  SELECT event_type, MIN(hx) AS mn, MAX(hx) AS mx
             |  FROM hourly GROUP BY 1),
             |dense AS (
             |  SELECT s.event_type, s.hx, COALESCE(h.y, 0) AS y
             |  FROM (SELECT event_type, unnest(generate_series(mn, mx)) AS hx
             |        FROM bounds) s
             |  LEFT JOIN hourly h
             |    ON s.event_type = h.event_type AND s.hx = h.hx),
             |b AS (
             |  SELECT event_type, hx % 24 AS hod,
             |    CAST(COUNT(*) AS BIGINT) AS n_hours,
             |    CAST(SUM(y) AS BIGINT) AS sum_y
             |  FROM dense GROUP BY 1, 2),
             |t AS (SELECT event_type, SUM(n_hours) AS nn, SUM(sum_y) AS ss
             |      FROM b GROUP BY 1)
             |SELECT b.event_type, b.hod, b.n_hours, b.sum_y,
             |  CAST(CAST(b.sum_y AS HUGEINT) * t.nn * 1000000
             |    // (CAST(b.n_hours AS HUGEINT) * t.ss) AS BIGINT)
             |    AS seasonal_ppm
             |FROM b JOIN t USING (event_type)
             |WHERE t.ss > 0
             |ORDER BY event_type, hod""".stripMargin)),

    // Markov-chain (removal-effect) attribution — the data-driven
    // multi-touch model that first/last-touch (q_attribution) cannot
    // express: user journeys become a first-order Markov chain over
    // touchpoint states (START → channels → CONV/NULL, truncated at the
    // first purchase), and each channel's credit is its REMOVAL EFFECT
    // — how much the START-state absorption probability into CONV drops
    // when every path through that channel is failed. Shape: the corpus
    // collapses to per-user journeys in ONE user-keyed window pass;
    // transition counts live on a ≤|types|² frame, and the absorption
    // fold runs on that constant-size matrix — collected to the driver
    // as bounded metadata (≤49 cells regardless of corpus size, the
    // 16×16 Gram-matrix precedent), NEVER a corpus collect. The fold is
    // 12 rounds of exact integer micro-unit arithmetic (Σ c·p div n,
    // truncating division in both engines, all values non-negative so
    // Scala /, Spark div and DuckDB // agree), so the iterative
    // algorithm carries a full SQL oracle — the generic (removed ×
    // state) unrolled fold, one round table per iteration. Overflow
    // bound: Σ c·p ≤ n(s)·1e6, BIGINT-safe to ~9e12 journeys.
    QueryDef("q_attribution_markov",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
        val fp = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(min(struct(col("ts"), col("event_id"))).as("fp"))
        val j = ev.join(fp, Seq("user_id"), "left")
          .filter(col("event_type") =!= "purchase" &&
            (col("fp").isNull ||
              struct(col("ts"), col("event_id")) < col("fp")))
          .withColumn("conv", col("fp").isNotNull)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val seq0 = j.withColumn("nxt", lead(col("event_type"), 1).over(w))
          .withColumn("rn", row_number().over(w))
        val inner = seq0.select(col("event_type").as("prev"),
          coalesce(col("nxt"),
            when(col("conv"), "CONV").otherwise("NULL")).as("nxt"))
        val starts = seq0.filter(col("rn") === 1)
          .select(lit("START").as("prev"), col("event_type").as("nxt"))
        val direct = fp.join(j.select(col("user_id")).distinct(),
            Seq("user_id"), "left_anti")
          .select(lit("START").as("prev"), lit("CONV").as("nxt"))
        val c = inner.unionByName(starts).unionByName(direct)
          .groupBy(col("prev"), col("nxt")).agg(count(lit(1)).as("c"))
          .collect().map(r =>
            (r.getString(0), r.getString(1), r.getLong(2))).toSeq
        val nOut = c.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._3).sum }
        val outs = c.groupBy(_._1).map { case (s, xs) =>
          s -> xs.map(x => (x._2, x._3)) }
        val states = (c.map(_._1) ++ c.map(_._2)).distinct
        val channels = c.map(_._1).distinct.filter(_ != "START").sorted
        def absorb(removed: Option[String]): Long = {
          var p = states.map(s =>
            s -> (if (s == "CONV") 1000000L else 0L)).toMap
          for (_ <- 1 to 12) p = states.map { s =>
            s -> (if (removed.contains(s)) 0L
              else if (s == "CONV") 1000000L
              else if (s == "NULL") 0L
              else outs.get(s).fold(0L)(ts =>
                ts.map { case (t, cnt) => cnt * p(t) }.sum / nOut(s)))
          }.toMap
          p.getOrElse("START", 0L)
        }
        val base = absorb(None)
        val eff = channels.map(ch => (ch, absorb(Some(ch))))
          .map { case (ch, pr) => (ch, base, pr, base - pr) }
        val tot = eff.map(_._4).sum
        val rows = eff.map { case (ch, b, pr, e) =>
          (ch, b, pr, e,
            if (tot > 0) java.lang.Long.valueOf(e * 1000000L / tot)
            else null.asInstanceOf[java.lang.Long])
        }
        import spark.implicits._
        rows.toDF("channel", "base_ppm", "removal_ppm", "effect_ppm",
            "attribution_ppm")
          .orderBy(col("channel"))
      },
      Some {
        def round(k: Int) =
          s"""p$k AS (
             |  SELECT b.rm, b.s,
             |    CAST(CASE WHEN b.s = b.rm THEN 0
             |      WHEN b.s = 'CONV' THEN 1000000
             |      WHEN b.s = 'NULL' THEN 0
             |      ELSE COALESCE(a.v, 0) END AS BIGINT) AS p
             |  FROM (SELECT rm, s FROM removals CROSS JOIN states) b
             |  LEFT JOIN (
             |    SELECT p.rm, c.prev AS s, SUM(c.c * p.p) // MAX(n.n) AS v
             |    FROM c JOIN p${k - 1} p ON c.nxt = p.s
             |    JOIN n ON n.prev = c.prev
             |    GROUP BY p.rm, c.prev) a ON a.rm = b.rm AND a.s = b.s)"""
            .stripMargin
        s"""WITH fp AS MATERIALIZED (
           |  SELECT user_id, MIN({'ts': ts, 'id': event_id}) AS fp
           |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
           |j AS MATERIALIZED (
           |  SELECT e.user_id, e.ts, e.event_id, e.event_type,
           |    fp.user_id IS NOT NULL AS conv
           |  FROM events e LEFT JOIN fp ON e.user_id = fp.user_id
           |  WHERE e.event_type <> 'purchase'
           |    AND (fp.fp IS NULL OR {'ts': e.ts, 'id': e.event_id} < fp.fp)),
           |seq AS MATERIALIZED (
           |  SELECT user_id, event_type, conv,
           |    LEAD(event_type) OVER w AS nxt,
           |    ROW_NUMBER() OVER w AS rn
           |  FROM j WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |tr0 AS (
           |  SELECT event_type AS prev,
           |    COALESCE(nxt, CASE WHEN conv THEN 'CONV' ELSE 'NULL' END) AS nxt
           |  FROM seq
           |  UNION ALL SELECT 'START', event_type FROM seq WHERE rn = 1
           |  UNION ALL SELECT 'START', 'CONV' FROM fp
           |    WHERE user_id NOT IN (SELECT DISTINCT user_id FROM j)),
           |c AS MATERIALIZED (
           |  SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM tr0 GROUP BY 1, 2),
           |n AS MATERIALIZED (SELECT prev, SUM(c) AS n FROM c GROUP BY 1),
           |states AS MATERIALIZED (
           |  SELECT prev AS s FROM c UNION SELECT nxt FROM c),
           |removals AS MATERIALIZED (
           |  SELECT 'none' AS rm
           |  UNION ALL SELECT DISTINCT prev FROM c WHERE prev <> 'START'),
           |p0 AS (
           |  SELECT rm, s,
           |    CAST(CASE WHEN s = 'CONV' THEN 1000000 ELSE 0 END AS BIGINT) AS p
           |  FROM removals CROSS JOIN states),
           |${(1 to 12).map(round).mkString(",\n")},
           |fin AS (SELECT rm, p FROM p12 WHERE s = 'START'),
           |base AS (SELECT p AS pb FROM fin WHERE rm = 'none'),
           |eff AS (
           |  SELECT rm AS channel, pb AS base_ppm, p AS removal_ppm,
           |    pb - p AS effect_ppm
           |  FROM fin CROSS JOIN base WHERE rm <> 'none'),
           |tot AS (SELECT SUM(effect_ppm) AS te FROM eff)
           |SELECT channel, base_ppm, removal_ppm, effect_ppm,
           |  CASE WHEN te > 0
           |    THEN CAST(effect_ppm * 1000000 // te AS BIGINT) END
           |    AS attribution_ppm
           |FROM eff CROSS JOIN tot ORDER BY channel""".stripMargin
      }),

    // Delta-method inference for a RATIO metric under CLUSTERED
    // randomization (Deng, Knoblich & Lu 2018, public) — the gap the
    // per-user tests (q_welch_ttest / q_cuped) leave open: the metric
    // here is revenue-per-ORDER but the randomization unit is the
    // CUSTOMER, so per-order observations are correlated within a
    // customer and the naive per-order variance is anticonservative.
    // Sufficient statistics are exact per-arm BIGINTs over per-customer
    // totals (k, Σy, Σm, Σy², Σm², Σym — ONE customer-keyed shuffle,
    // then one map-side-combined 1-row aggregate); the delta-method
    // variance  Var(R̂) = (σ_y² + R²σ_m² − 2Rσ_ym)/(k·m̄²)  and z² are
    // each ONE expression built from +,-,*,/ ONLY on BIGINT-cast
    // inputs — every step an IEEE-754 exact-rounded operation, so the
    // doubles AND the α=0.05 verdict (z² vs 3.8416) are bit-identical
    // cross-engine WITHOUT libm. (The cleared-denominator rational
    // here is degree ~10 in the statistics and leaves DECIMAL(38), so
    // unlike q_welch_ttest the decision rides the deterministic
    // arithmetic-only double instead of exact integers.) Σy² is the
    // domain ceiling and picks the metric GRANULARITY: per-customer
    // revenue is summed in WHOLE DOLLARS (cents granularity already
    // sums to 5.7e18 cents² at sf0.001 — the tripwire caught it), good
    // to ~10⁶ customers at this corpus's revenue scale; beyond that an
    // order-insensitive double shadow-sum trips raise_error at 4e18
    // (2× under BIGINT wrap; the shadow's ±ulps are noise against that
    // margin) so overflow is loud, never silent — the q_welch_ttest
    // discipline, with "rescale to coarser units" as the remedy.
    QueryDef("q_delta_ratio",
      (spark, sf) => {
        val per = load(spark, sf, "orders")
          .select(col("o_custkey"),
            round(col("o_totalprice")).cast("long").as("c"))
          .groupBy(col("o_custkey"))
          .agg(sum(col("c")).as("y"), count(lit(1)).as("m"))
          .select((col("o_custkey") % 2 === 0).as("grp_a"),
            col("y"), col("m"))
        def arm(nm: String, g: org.apache.spark.sql.Column) = Seq(
          sum(when(g, 1L).otherwise(0L)).as(s"k_$nm"),
          sum(when(g, col("y")).otherwise(0L)).as(s"sy_$nm"),
          sum(when(g, col("m")).otherwise(0L)).as(s"sm_$nm"),
          sum(when(g, col("y") * col("y")).otherwise(0L)).as(s"qy_$nm"),
          sum(when(g, col("m") * col("m")).otherwise(0L)).as(s"qm_$nm"),
          sum(when(g, col("y") * col("m")).otherwise(0L)).as(s"sym_$nm"),
          sum(when(g, col("y").cast("double") * col("y")).otherwise(0.0))
            .as(s"gy_$nm"))
        val cols = arm("a", col("grp_a")) ++ arm("b", !col("grp_a"))
        val s = per.agg(cols.head, cols.tail: _*)
        val ok = col("k_a") > 1 && col("k_b") > 1 &&
          col("sm_a") > 0 && col("sm_b") > 0
        s.select(col("k_a"), col("sy_a"), col("sm_a"),
          col("k_b"), col("sy_b"), col("sm_b"),
          expr(Shared.DeltaRatioDomainGuard).as("domain_ok"),
          when(ok, round(expr("CAST(sy_a AS DOUBLE) / sm_a"), 4))
            .as("ratio_a"),
          when(ok, round(expr("CAST(sy_b AS DOUBLE) / sm_b"), 4))
            .as("ratio_b"),
          when(ok && expr(Shared.DeltaRatioVarPos),
            round(expr(Shared.DeltaRatioZ2), 4)).as("z2"),
          when(ok && expr(Shared.DeltaRatioVarPos),
            expr(s"CAST(${Shared.DeltaRatioZ2} >= 3.8416 AS INT)"))
            .as("significant"))
      },
      Some(s"""WITH per AS (
             |  SELECT o_custkey % 2 = 0 AS grp_a,
             |    CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y,
             |    CAST(COUNT(*) AS BIGINT) AS m
             |  FROM orders GROUP BY o_custkey),
             |s AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN grp_a THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
             |    CAST(SUM(CASE WHEN grp_a THEN y ELSE 0 END) AS BIGINT) AS sy_a,
             |    CAST(SUM(CASE WHEN grp_a THEN m ELSE 0 END) AS BIGINT) AS sm_a,
             |    CAST(SUM(CASE WHEN grp_a THEN y * y ELSE 0 END) AS BIGINT) AS qy_a,
             |    CAST(SUM(CASE WHEN grp_a THEN m * m ELSE 0 END) AS BIGINT) AS qm_a,
             |    CAST(SUM(CASE WHEN grp_a THEN y * m ELSE 0 END) AS BIGINT) AS sym_a,
             |    SUM(CASE WHEN grp_a THEN CAST(y AS DOUBLE) * y ELSE 0 END) AS gy_a,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN 1 ELSE 0 END) AS BIGINT) AS k_b,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN y ELSE 0 END) AS BIGINT) AS sy_b,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN m ELSE 0 END) AS BIGINT) AS sm_b,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN y * y ELSE 0 END) AS BIGINT) AS qy_b,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN m * m ELSE 0 END) AS BIGINT) AS qm_b,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN y * m ELSE 0 END) AS BIGINT) AS sym_b,
             |    SUM(CASE WHEN NOT grp_a THEN CAST(y AS DOUBLE) * y ELSE 0 END) AS gy_b
             |  FROM per)
             |SELECT k_a, sy_a, sm_a, k_b, sy_b, sm_b,
             |  ${Shared.DeltaRatioDomainGuardDuck} AS domain_ok,
             |  CASE WHEN k_a > 1 AND k_b > 1 AND sm_a > 0 AND sm_b > 0 THEN
             |    ROUND(CAST(sy_a AS DOUBLE) / sm_a, 4) END AS ratio_a,
             |  CASE WHEN k_a > 1 AND k_b > 1 AND sm_a > 0 AND sm_b > 0 THEN
             |    ROUND(CAST(sy_b AS DOUBLE) / sm_b, 4) END AS ratio_b,
             |  CASE WHEN k_a > 1 AND k_b > 1 AND sm_a > 0 AND sm_b > 0
             |      AND ${Shared.DeltaRatioVarPos} THEN
             |    ROUND(${Shared.DeltaRatioZ2}, 4) END AS z2,
             |  CASE WHEN k_a > 1 AND k_b > 1 AND sm_a > 0 AND sm_b > 0
             |      AND ${Shared.DeltaRatioVarPos} THEN
             |    CAST(${Shared.DeltaRatioZ2} >= 3.8416 AS INT) END AS significant
             |FROM s""".stripMargin)),

    // Two-period difference-in-differences on the user panel — the
    // quasi-experimental workhorse for launches WITHOUT randomization
    // holdouts (Card & Krueger 1994 design, public). With both periods
    // observed for every user, DiD collapses to a two-sample test on
    // the per-user CHANGE Δ_u = post_u − pre_u (the panel identity:
    // (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre) = Δ̄_t − Δ̄_c), so the
    // entire machinery of q_welch_ttest applies verbatim to Δ —
    // including the EXACT integer α=0.05 decision in DECIMAL(38)/
    // HUGEINT with its raise_error domain tripwire. The pre/post split
    // is the corpus midpoint timestamp (one O(1) min/max aggregate
    // broadcast back — the q_cuped staging); per-user (pre, post)
    // counts are ONE user-keyed shuffle; Δ moments are exact BIGINTs
    // from one map-side-combined aggregate (|Δ| ≤ per-user events, so
    // ΣΔ² is BIGINT-safe to ~10¹² users — no shadow-sum needed).
    QueryDef("q_diff_in_diff",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
          .select(col("user_id"), expr("unix_micros(ts)").as("us"))
        val cut = ev.agg(expr("(MIN(us) + MAX(us)) div 2").as("cut"))
        val per = ev.crossJoin(broadcast(cut))
          .groupBy(col("user_id"))
          .agg((sum(when(col("us") >= col("cut"), 1L).otherwise(0L)) -
            sum(when(col("us") < col("cut"), 1L).otherwise(0L))).as("d"))
          .select((col("user_id") % 2 === 0).as("grp_a"), col("d"))
        val s = per.agg(
          sum(when(col("grp_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("grp_a"), col("d")).otherwise(0L)).as("s_a"),
          sum(when(col("grp_a"), col("d") * col("d")).otherwise(0L)).as("q_a"),
          sum(when(!col("grp_a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("grp_a"), col("d")).otherwise(0L)).as("s_b"),
          sum(when(!col("grp_a"), col("d") * col("d")).otherwise(0L)).as("q_b"))
        // Shared.WelchVarPos: exact positive-variance guard (DECIMAL —
        // s² leaves BIGINT long before the decision domain does)
        val ok = col("n_a") > 1 && col("n_b") > 1 &&
          expr(Shared.WelchVarPos)
        s.select(col("n_a"), col("s_a"), col("q_a"),
          col("n_b"), col("s_b"), col("q_b"),
          when(ok, round(expr(
            "CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b"), 6))
            .as("did"),
          when(ok, round(expr(Shared.WelchT2), 4)).as("t2"),
          when(ok, expr(Shared.WelchDecisionSpark)).as("significant"))
      },
      Some(s"""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS us FROM events),
             |cutoff AS (SELECT (MIN(us) + MAX(us)) // 2 AS cut FROM ev),
             |per AS (
             |  SELECT user_id % 2 = 0 AS grp_a,
             |    CAST(SUM(CASE WHEN us >= cut THEN 1 ELSE 0 END)
             |      - SUM(CASE WHEN us < cut THEN 1 ELSE 0 END) AS BIGINT) AS d
             |  FROM ev CROSS JOIN cutoff GROUP BY user_id),
             |s AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN grp_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN grp_a THEN d ELSE 0 END) AS BIGINT) AS s_a,
             |    CAST(SUM(CASE WHEN grp_a THEN d * d ELSE 0 END) AS BIGINT) AS q_a,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN d ELSE 0 END) AS BIGINT) AS s_b,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN d * d ELSE 0 END) AS BIGINT) AS q_b
             |  FROM per)
             |SELECT n_a, s_a, q_a, n_b, s_b, q_b,
             |  CASE WHEN n_a > 1 AND n_b > 1
             |      AND ${Shared.WelchVarPos} THEN
             |    ROUND(CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b, 6)
             |  END AS did,
             |  CASE WHEN n_a > 1 AND n_b > 1
             |      AND ${Shared.WelchVarPos} THEN
             |    ROUND(${Shared.WelchT2}, 4) END AS t2,
             |  CASE WHEN n_a > 1 AND n_b > 1
             |      AND ${Shared.WelchVarPos} THEN
             |    ${Shared.WelchDecisionDuck} END AS significant
             |FROM s""".stripMargin)),

    // Experiment PLANNING: minimum detectable effect and required
    // sample size — the power arithmetic every platform runs BEFORE
    // launching (standard two-proportion formula, e.g. Kohavi et al.
    // 2020, public). Baseline conversion comes from the live corpus
    // (user converted = any purchase event): exact integer counts from
    // ONE user-keyed shuffle + a 1-row aggregate. The absolute MDE at
    // α=0.05 / power 0.8 is (z_{.975}+z_{.8})·√(p̄(1−p̄)(1/n_a+1/n_b))
    // — one expression whose only libm call is SQRT, which IEEE 754
    // requires correctly rounded, so it is bit-identical cross-engine
    // (the constant 2.801585 = 1.959964 + 0.841621 is squared by
    // MULTIPLICATION, never POW). The required per-arm n to detect a
    // 10% RELATIVE lift inverts the same formula; CEIL of a
    // deterministic double, cast BIGINT on both engines.
    QueryDef("q_power_mde",
      (spark, sf) => {
        val per = load(spark, sf, "events")
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("cv"))
          .select((col("user_id") % 2 === 0).as("grp_a"), col("cv"))
        val s = per.agg(
          sum(when(col("grp_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("grp_a"), col("cv")).otherwise(0L)).as("x_a"),
          sum(when(!col("grp_a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("grp_a"), col("cv")).otherwise(0L)).as("x_b"))
        val ok = col("n_a") > 0 && col("n_b") > 0 &&
          col("x_a") + col("x_b") > 0 &&
          col("x_a") + col("x_b") < col("n_a") + col("n_b")
        s.select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
          when(col("n_a") + col("n_b") > 0,
            expr("(x_a + x_b) * 1000000 div (n_a + n_b)")).as("p_pool_ppm"),
          when(ok, round(expr(
            s"${Shared.PowerMdeAbs} * 1000000"), 2)).as("mde_ppm"),
          when(ok, expr(
            s"CAST(CEIL(${Shared.PowerNReq10}) AS BIGINT)"))
            .as("n_per_arm_rel10"))
      },
      Some(s"""WITH per AS (
             |  SELECT user_id % 2 = 0 AS grp_a,
             |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS cv
             |  FROM events GROUP BY user_id),
             |s AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN grp_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN grp_a THEN cv ELSE 0 END) AS BIGINT) AS x_a,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN cv ELSE 0 END) AS BIGINT) AS x_b
             |  FROM per)
             |SELECT n_a, x_a, n_b, x_b,
             |  CASE WHEN n_a + n_b > 0 THEN
             |    (x_a + x_b) * 1000000 // (n_a + n_b) END AS p_pool_ppm,
             |  CASE WHEN n_a > 0 AND n_b > 0 AND x_a + x_b > 0
             |      AND x_a + x_b < n_a + n_b THEN
             |    ROUND(${Shared.PowerMdeAbs} * 1000000, 2) END AS mde_ppm,
             |  CASE WHEN n_a > 0 AND n_b > 0 AND x_a + x_b > 0
             |      AND x_a + x_b < n_a + n_b THEN
             |    CAST(CEIL(${Shared.PowerNReq10}) AS BIGINT)
             |  END AS n_per_arm_rel10
             |FROM s""".stripMargin)),

    // Poisson bootstrap CI (Chamandy, Muralidharan, Najmi & Naidu 2012,
    // public Google paper) — THE bootstrap that works at 100 TB:
    // instead of materializing B independent n-row resamples
    // (impossible when n doesn't fit anywhere), every unit gets an
    // independent Poisson(1) weight per replicate, and a resample mean
    // is Σw·y/Σw. Weights here are DETERMINISTIC: an md5 word per
    // (customer, replicate) mapped through integer inverse-CDF
    // thresholds (Shared.PoissonThresholds — pure BIGINT comparisons,
    // bit-exact in both engines; the w≥8 tail, mass ≈ 1e-5, is
    // truncated and disclosed). Shape: the corpus collapses to
    // per-customer totals first (ONE keyed shuffle), the ×64 replicate
    // fan-out happens on that reduced frame and feeds a 64-group
    // map-side-combined aggregate — shuffle volume is 64·partitions
    // rows no matter the corpus — and the percentile CI is two order
    // statistics (ranks 2 and 63 ≈ 2.5%/97.5%) of a 64-row frame (the
    // single-partition window is over B rows, never the corpus).
    // Replicate means are exact-integer ratios → one IEEE division →
    // bit-identical doubles; ties in the sort are broken by replicate
    // id. Metric in whole dollars (the q_delta_ratio granularity).
    QueryDef("q_bootstrap_ci",
      (spark, sf) => {
        val per = load(spark, sf, "orders")
          .select(col("o_custkey"),
            round(col("o_totalprice")).cast("long").as("c"))
          .groupBy(col("o_custkey")).agg(sum(col("c")).as("y"))
        val reps = per
          .select(col("o_custkey"), col("y"),
            explode(expr("sequence(0, 63)")).as("b"))
          .withColumn("v", conv(substring(md5(concat(
            col("o_custkey").cast("string"), lit(":"),
            col("b").cast("string"), lit("boot"))), 1, 8), 16, 10)
            .cast("long"))
          .withColumn("w", expr(Shared.PoissonWeightSql))
        val means = reps.groupBy(col("b"))
          .agg(sum(col("w") * col("y")).as("sw"), sum(col("w")).as("cw"))
          .filter(col("cw") > 0)
          .select(col("b"),
            (col("sw").cast("double") / col("cw")).as("mb"))
        val ranked = means.withColumn("rn", row_number().over(
          Window.orderBy(col("mb"), col("b"))))
        val ci = ranked.agg(
          max(when(col("rn") === 2, col("mb"))).as("lo"),
          max(when(col("rn") === 63, col("mb"))).as("hi"),
          count(lit(1)).as("b_count"))
        val full = per.agg(count(lit(1)).as("n_users"),
          sum(col("y")).as("sy"))
        full.crossJoin(ci).select(col("n_users"), col("b_count"),
          round(col("sy").cast("double") / col("n_users"), 4)
            .as("mean_full"),
          round(col("lo"), 4).as("boot_lo"),
          round(col("hi"), 4).as("boot_hi"))
      },
      Some(s"""WITH per AS (
             |  SELECT o_custkey,
             |    CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
             |  FROM orders GROUP BY o_custkey),
             |reps AS (
             |  SELECT b, y,
             |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':'
             |      || CAST(b AS VARCHAR) || 'boot'), 1, 8))::BIGINT AS v
             |  FROM per CROSS JOIN (SELECT unnest(range(64)) AS b)),
             |wt AS (
             |  SELECT b, y, ${Shared.PoissonWeightSql} AS w FROM reps),
             |means AS (
             |  SELECT b, CAST(CAST(SUM(w * y) AS BIGINT) AS DOUBLE)
             |      / CAST(SUM(w) AS BIGINT) AS mb
             |  FROM wt GROUP BY b HAVING SUM(w) > 0),
             |ranked AS (
             |  SELECT mb, ROW_NUMBER() OVER (ORDER BY mb, b) AS rn
             |  FROM means),
             |ci AS (
             |  SELECT MAX(CASE WHEN rn = 2 THEN mb END) AS lo,
             |    MAX(CASE WHEN rn = 63 THEN mb END) AS hi,
             |    CAST(COUNT(*) AS BIGINT) AS b_count
             |  FROM ranked),
             |f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             |    CAST(SUM(y) AS BIGINT) AS sy FROM per)
             |SELECT n_users, b_count,
             |  ROUND(CAST(sy AS DOUBLE) / n_users, 4) AS mean_full,
             |  ROUND(lo, 4) AS boot_lo, ROUND(hi, 4) AS boot_hi
             |FROM f CROSS JOIN ci""".stripMargin)),

    // Group-sequential testing with O'Brien–Fleming boundaries — the
    // OTHER standard sequential design next to q_sprt's fully-
    // sequential Wald test: K = 4 interim looks at equally-spaced
    // calendar times, each applying the pooled two-proportion z² with
    // a look-specific boundary that spends almost no α early (z₁ =
    // 4.048) and ≈ the fixed-horizon 1.96 at the final look. Look
    // membership is "observed BY the look": a user counts once their
    // first event is ≤ the cut, a conversion once the first purchase
    // is ≤ the cut — so look 4 equals the fixed-horizon test on the
    // full corpus. Per-look rejection is an EXACT integer decision:
    // 10⁶·D²·n ≥ C_k·n_a·n_b·x·(n−x) in DECIMAL(38)/HUGEINT with the
    // q_ab_test raise_error tripwire at the 38-digit domain edge
    // (C_k = Shared.ObfBoundsE6, exact 10⁶-scaled squares of the
    // public boundary values). Shape: ONE user-keyed shuffle → ×4
    // look fan-out on the per-user frame into a 4-group map-side-
    // combined aggregate; everything after lives on a 4-row frame
    // (its single-partition window is constant-size by construction).
    QueryDef("q_obrien_fleming",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
          .select(col("user_id"), expr("unix_micros(ts)").as("us"),
            col("event_type"))
        val bounds = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
        val per = ev.groupBy(col("user_id"))
          .agg(min(col("us")).as("first_us"),
            min(when(col("event_type") === "purchase", col("us")))
              .as("conv_us"))
          .select((col("user_id") % 2 === 0).as("grp_a"),
            col("first_us"), col("conv_us"))
        val looks = per.crossJoin(broadcast(bounds))
          .select(col("grp_a"), col("first_us"), col("conv_us"),
            explode(expr("sequence(1, 4)")).as("look"),
            col("mn"), col("mx"))
          .withColumn("cut", expr("mn + (mx - mn) * look div 4"))
        val g = looks.groupBy(col("look")).agg(
          sum(when(col("grp_a") && col("first_us") <= col("cut"), 1L)
            .otherwise(0L)).as("n_a"),
          sum(when(col("grp_a") && col("conv_us") <= col("cut"), 1L)
            .otherwise(0L)).as("x_a"),
          sum(when(!col("grp_a") && col("first_us") <= col("cut"), 1L)
            .otherwise(0L)).as("n_b"),
          sum(when(!col("grp_a") && col("conv_us") <= col("cut"), 1L)
            .otherwise(0L)).as("x_b"))
          .withColumn("bound_e6", expr(
            s"element_at(array(${Shared.ObfBoundsE6.mkString(", ")}), look)"))
        val ok = col("n_a") > 0 && col("n_b") > 0 &&
          col("x_a") + col("x_b") > 0 &&
          col("x_a") + col("x_b") < col("n_a") + col("n_b")
        val scored = g.select(col("look"), col("n_a"), col("x_a"),
          col("n_b"), col("x_b"), col("bound_e6"),
          when(ok, round(expr(
            """POW(CAST(x_a * n_b - x_b * n_a AS DOUBLE), 2) * (n_a + n_b)
              |  / (CAST(n_a AS DOUBLE) * n_b * (x_a + x_b)
              |     * (n_a + n_b - x_a - x_b))""".stripMargin), 4)).as("z2"),
          when(ok, expr(
            """CASE WHEN 1000000 * POW(CAST(x_a * n_b - x_b * n_a AS DOUBLE), 2)
              |       * (n_a + n_b) > 1e36
              |    OR CAST(bound_e6 AS DOUBLE) * n_a * n_b * (x_a + x_b)
              |       * (n_a + n_b - x_a - x_b) > 1e36
              |  THEN CAST(raise_error(CONCAT('q_obrien_fleming: counts exceed ',
              |    'the DECIMAL(38) exact-decision domain - decide on the ',
              |    'z2 double')) AS INT)
              |  ELSE CAST(
              |    CAST(x_a * n_b - x_b * n_a AS DECIMAL(38,0))
              |      * (x_a * n_b - x_b * n_a) * (n_a + n_b) * 1000000
              |    >= CAST(bound_e6 AS DECIMAL(38,0)) * n_a * n_b
              |      * (x_a + x_b) * (n_a + n_b - x_a - x_b)
              |    AS INT) END""".stripMargin)).as("reject"))
        scored.withColumn("stopped",
          max(coalesce(col("reject"), lit(0))).over(
            Window.orderBy(col("look"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy(col("look"))
      },
      Some(Shared.ObfOracle)),

    // Winsorized-metric test — the heavy-tail discipline every revenue
    // experiment applies before a means test (a single whale order
    // dominates Var(mean) and destroys power; capping at exact global
    // percentiles bounds the influence of any one observation). The
    // P1/P99 caps are EXACT order statistics from ONE distributed
    // range-sort (ops/Rank.rankGlobal — the q_exact_quantiles
    // machinery, constant memory per task at any scale), broadcast
    // back as a 1-row frame onto a second corpus pass that clamps and
    // aggregates — no per-group value buffering anywhere. The capped
    // metric is tested with the EXACT integer Welch decision
    // (Shared.WelchDecision*) on HECTODOLLAR units — the decision
    // domain scales as n⁴·E[y²], and at this corpus's ~\$150k order
    // values whole dollars already trip the DECIMAL(38) tripwire at
    // sf0.1; hundreds keep the exact decision valid to ~10⁶ orders
    // per arm (caps stay in cents for display; y = clamped cents div
    // 10000, truncating division on non-negative prices agrees across
    // engines). The
    // per-ORDER unit is deliberate — the clustered-unit correction
    // lives in q_delta_ratio; this gate isolates the tail-robustness
    // step.
    QueryDef("q_winsorized_mean",
      (spark, sf) => {
        val s0 = load(spark, sf, "orders")
          .select(col("o_custkey"), cents(col("o_totalprice")).as("v"))
        val ranked = graft.ops.Rank.rankGlobal(
          s0.select(col("v")), Seq(col("v")), "rn")
        // rank targets stay IN-PLAN (a 1-row count aggregate exploded
        // against the two per-mille literals, as the oracle's CTE does)
        // — no eager driver-side count job outside the lazy DAG
        val targets = s0.agg(count(lit(1)).as("c"))
          .select(explode(expr("array(10, 990)")).as("pm"), col("c"))
          .select(col("pm"), expr("(c - 1) * pm div 1000 + 1").as("rn"))
        val caps = ranked.join(broadcast(targets), "rn")
          .agg(max(when(col("pm") === 10, col("v"))).as("lo"),
            max(when(col("pm") === 990, col("v"))).as("hi"))
        val w = s0.crossJoin(broadcast(caps))
          .select(col("lo"), col("hi"),
            (col("o_custkey") % 2 === 0).as("grp_a"),
            expr("least(greatest(v, lo), hi) div 10000").as("y"))
        val st = w.groupBy(col("lo"), col("hi")).agg(
          sum(when(col("grp_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("grp_a"), col("y")).otherwise(0L)).as("s_a"),
          sum(when(col("grp_a"), col("y") * col("y")).otherwise(0L)).as("q_a"),
          sum(when(!col("grp_a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("grp_a"), col("y")).otherwise(0L)).as("s_b"),
          sum(when(!col("grp_a"), col("y") * col("y")).otherwise(0L)).as("q_b"))
        val ok = col("n_a") > 1 && col("n_b") > 1 &&
          expr(Shared.WelchVarPos)
        st.select(col("lo").as("lo_cents"), col("hi").as("hi_cents"),
          col("n_a"), col("s_a"), col("q_a"),
          col("n_b"), col("s_b"), col("q_b"),
          when(col("n_a") > 0, round(
            col("s_a").cast("double") / col("n_a"), 4)).as("wins_mean_hd_a"),
          when(col("n_b") > 0, round(
            col("s_b").cast("double") / col("n_b"), 4)).as("wins_mean_hd_b"),
          when(ok, round(expr(Shared.WelchT2), 4)).as("t2"),
          when(ok, expr(Shared.WelchDecisionSpark)).as("significant"))
      },
      Some(s"""WITH s AS (
             |  SELECT o_custkey, CAST(ROUND(o_totalprice*100) AS BIGINT) AS v
             |  FROM orders),
             |n AS (SELECT COUNT(*) AS c FROM s),
             |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM s),
             |caps AS (
             |  SELECT MAX(CASE WHEN pm = 10 THEN r.v END) AS lo,
             |    MAX(CASE WHEN pm = 990 THEN r.v END) AS hi
             |  FROM (SELECT unnest([10, 990]) AS pm) p CROSS JOIN n
             |  JOIN r ON r.rn = (n.c - 1) * p.pm // 1000 + 1),
             |w AS (
             |  SELECT lo, hi, o_custkey % 2 = 0 AS grp_a,
             |    LEAST(GREATEST(v, lo), hi) // 10000 AS y
             |  FROM s CROSS JOIN caps),
             |st AS (
             |  SELECT lo, hi,
             |    CAST(SUM(CASE WHEN grp_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN grp_a THEN y ELSE 0 END) AS BIGINT) AS s_a,
             |    CAST(SUM(CASE WHEN grp_a THEN y * y ELSE 0 END) AS BIGINT) AS q_a,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN y ELSE 0 END) AS BIGINT) AS s_b,
             |    CAST(SUM(CASE WHEN NOT grp_a THEN y * y ELSE 0 END) AS BIGINT) AS q_b
             |  FROM w GROUP BY lo, hi)
             |SELECT lo AS lo_cents, hi AS hi_cents,
             |  n_a, s_a, q_a, n_b, s_b, q_b,
             |  CASE WHEN n_a > 0 THEN
             |    ROUND(CAST(s_a AS DOUBLE) / n_a, 4) END AS wins_mean_hd_a,
             |  CASE WHEN n_b > 0 THEN
             |    ROUND(CAST(s_b AS DOUBLE) / n_b, 4) END AS wins_mean_hd_b,
             |  CASE WHEN n_a > 1 AND n_b > 1
             |      AND ${Shared.WelchVarPos} THEN
             |    ROUND(${Shared.WelchT2}, 4) END AS t2,
             |  CASE WHEN n_a > 1 AND n_b > 1
             |      AND ${Shared.WelchVarPos} THEN
             |    ${Shared.WelchDecisionDuck} END AS significant
             |FROM st""".stripMargin)),

    // Item-item collaborative filtering — the classic recommender
    // candidate generator (Linden, Smith & York 2003, public Amazon
    // paper): top-3 neighbors per part by co-purchase COSINE
    // support/√(c₁·c₂), which downweights globally popular items the
    // raw support ranking (q_basket_pairs) over-promotes. Reuses the
    // hot-basket-capped universe (BasketCap + the dropped-fraction
    // emission gate — the quadratic stage stays bounded at any corpus
    // pathology); per-item counts and the pair self-join share ONE
    // l_orderkey exchange; symmetrization is a union of the canonical
    // p1<p2 edges, and per-item ranking is a KEYED window. Cosine is
    // one exact-rounded SQRT+divide on exact integers — bit-identical
    // cross-engine — with neighbor-id tiebreak.
    QueryDef("q_item_cf",
      (spark, sf) => {
        val items = load(spark, sf, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val bsz = items.groupBy(col("l_orderkey")).agg(count(lit(1)).as("bsz"))
        val kept = items
          .join(bsz.filter(col("bsz") <= BasketCap), Seq("l_orderkey"))
          .select(col("l_orderkey"), col("l_partkey"))
        val cnt = kept.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
        val edges = kept.as("a").join(kept.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
        val sym = edges
          .select(col("p1").as("item"), col("p2").as("nb"), col("support"))
          .unionByName(edges
            .select(col("p2").as("item"), col("p1").as("nb"), col("support")))
        val scored = sym
          .join(cnt.select(col("l_partkey").as("item"), col("c").as("ci")),
            Seq("item"))
          .join(cnt.select(col("l_partkey").as("nb"), col("c").as("cn")),
            Seq("nb"))
          .withColumn("cosine",
            expr("support / SQRT(CAST(ci AS DOUBLE) * cn)"))
        val top = scored.withColumn("rnk", row_number().over(
            Window.partitionBy(col("item"))
              .orderBy(col("cosine").desc, col("nb"))))
          .filter(col("rnk") <= 3)
          .select(col("item"), col("rnk"), col("nb").as("neighbor"),
            col("support"), round(col("cosine"), 6).as("cosine"))
          .orderBy(col("item"), col("rnk"))
        gateOnBasketDrop(spark, sf, top)
      },
      Some(s"""$CappedEdgeSql,
             |cnt AS (
             |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM kept GROUP BY 1),
             |sym AS (
             |  SELECT p1 AS item, p2 AS nb, support FROM e
             |  UNION ALL SELECT p2, p1, support FROM e),
             |sc AS (
             |  SELECT item, nb, CAST(support AS BIGINT) AS support,
             |    support / SQRT(CAST(ci.c AS DOUBLE) * cn.c) AS cosine
             |  FROM sym
             |  JOIN cnt ci ON ci.l_partkey = item
             |  JOIN cnt cn ON cn.l_partkey = nb),
             |top AS (
             |  SELECT item, nb, support, cosine,
             |    ROW_NUMBER() OVER (PARTITION BY item
             |                       ORDER BY cosine DESC, nb) AS rnk
             |  FROM sc)
             |SELECT item, CAST(rnk AS INT) AS rnk, nb AS neighbor,
             |  support, ROUND(cosine, 6) AS cosine
             |FROM top CROSS JOIN gate
             |WHERE rnk <= 3 AND dropped_frac <= $BasketDropBound
             |ORDER BY item, rnk""".stripMargin)),

    // Min-support-floored twin of q_item_cf — the production CF
    // candidate-economics knob (r16 verdict task 6): pairs must reach
    // support >= 3 (vs the baseline's >= 2). Measured economics
    // (tools/ItemCfEconProbe + growthcheck, recorded in BENCH_NOTES):
    // the floor collapses the support-1/2 junk tail downstream of the
    // single linear pair shuffle (edges 2793 -> 48 at sf0.01,
    // 2859 -> 1 at sf0.1 — co-occurrence thins as the catalog grows),
    // and together with the array-pairing formulation below the twin
    // runs ~1.9x faster absolute than the baseline at sf0.1; the probe
    // reports the recall trade against the baseline's top-3 facts. The
    // Apriori consequence of the floor — an item in fewer than 3 kept
    // baskets cannot reach support 3 with any neighbor — is what makes
    // the physical item prefilter optional here (see inline note). The
    // oracle replays floor and (implied) prefilter exactly; the
    // dropped-basket emission gate is shared with the baseline.
    QueryDef("q_item_cf_cut",
      (spark, sf) => {
        // ONE lineitem shuffle: collect each (capped) basket as a sorted
        // distinct array, expand ordered pairs IN THE MAPPER (a per-row
        // codegen'd transform over ≤ C(8,2) = 28 elements — never a
        // self-join), and let the (p1,p2) partial aggregation combine
        // map-side before the edge exchange. The baseline's
        // distinct + bsz + self-join formulation costs three exchanges
        // over item-scale data; this one costs one plus the (small)
        // edge exchange — the candidate-economics half of the twin.
        // (collect_set per basket is bounded by the cap's 2.2%-drop
        // distribution on this corpus; a pathology with giant baskets
        // is exactly what the drop gate trips on.)
        val baskets = load(spark, sf, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
          .filter(size(col("ps")) <= BasketCap)
        // the Apriori item prefilter (c >= floor) is IMPLIED by the edge
        // floor — support(p1,p2) <= min(c1,c2) — so no physical
        // prefilter join is needed for correctness; on long-tail
        // catalogs where it bites, array_intersect the baskets against
        // the broadcast hot-item set here before pairing.
        val pairs = baskets.select(explode(expr(
            "flatten(transform(ps, (x, i) -> " +
              "transform(slice(ps, i + 2, size(ps)), " +
              "y -> struct(x AS p1, y AS p2))))")).as("pr"))
          .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        val edges = pairs.groupBy(col("p1"), col("p2"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= MinCfSupport)
        // cosine denominators: full item counts off the same baskets
        // frame (the exchange is reused across the two consumers; an
        // endpoint-semi-join variant measured SLOWER — it serializes
        // the edge stage before the count stage can start)
        val cnt = baskets.select(explode(col("ps")).as("l_partkey"))
          .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
        val sym = edges
          .select(col("p1").as("item"), col("p2").as("nb"), col("support"))
          .unionByName(edges
            .select(col("p2").as("item"), col("p1").as("nb"), col("support")))
        val scored = sym
          .join(cnt.select(col("l_partkey").as("item"), col("c").as("ci")),
            Seq("item"))
          .join(cnt.select(col("l_partkey").as("nb"), col("c").as("cn")),
            Seq("nb"))
          .withColumn("cosine",
            expr("support / SQRT(CAST(ci AS DOUBLE) * cn)"))
        val top = scored.withColumn("rnk", row_number().over(
            Window.partitionBy(col("item"))
              .orderBy(col("cosine").desc, col("nb"))))
          .filter(col("rnk") <= 3)
          .select(col("item"), col("rnk"), col("nb").as("neighbor"),
            col("support"), round(col("cosine"), 6).as("cosine"))
          .orderBy(col("item"), col("rnk"))
        gateOnBasketDrop(spark, sf, top)
      },
      Some(s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |bsz AS (SELECT l_orderkey, COUNT(*) AS bsz FROM items GROUP BY 1),
             |gate AS (SELECT SUM(CASE WHEN bsz > $BasketCap THEN 1 ELSE 0 END) * 1.0
             |           / COUNT(*) AS dropped_frac FROM bsz),
             |kept AS (
             |  SELECT i.l_orderkey, i.l_partkey
             |  FROM items i JOIN bsz USING (l_orderkey)
             |  WHERE bsz <= $BasketCap),
             |cnt AS (
             |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM kept GROUP BY 1),
             |hot AS (
             |  SELECT k.l_orderkey, k.l_partkey
             |  FROM kept k JOIN cnt USING (l_partkey) WHERE c >= $MinCfSupport),
             |e AS (
             |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS support
             |  FROM hot a JOIN hot b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinCfSupport),
             |sym AS (
             |  SELECT p1 AS item, p2 AS nb, support FROM e
             |  UNION ALL SELECT p2, p1, support FROM e),
             |sc AS (
             |  SELECT item, nb, CAST(support AS BIGINT) AS support,
             |    support / SQRT(CAST(ci.c AS DOUBLE) * cn.c) AS cosine
             |  FROM sym
             |  JOIN cnt ci ON ci.l_partkey = item
             |  JOIN cnt cn ON cn.l_partkey = nb),
             |top AS (
             |  SELECT item, nb, support, cosine,
             |    ROW_NUMBER() OVER (PARTITION BY item
             |                       ORDER BY cosine DESC, nb) AS rnk
             |  FROM sc)
             |SELECT item, CAST(rnk AS INT) AS rnk, nb AS neighbor,
             |  support, ROUND(cosine, 6) AS cosine
             |FROM top CROSS JOIN gate
             |WHERE rnk <= 3 AND dropped_frac <= $BasketDropBound
             |ORDER BY item, rnk""".stripMargin)),

    // Cox–Stuart trend test on the daily ingest series — the exact
    // nonparametric "is this metric drifting" monitor (Cox & Stuart
    // 1955, public): pair day i with day i+⌈nd/2⌉, count strict
    // increases vs decreases (ties dropped, the standard treatment),
    // and test the sign counts against a fair coin. The two-cell
    // z² = (S₊−S₋)²/(S₊+S₋) decision at α=0.05 is the exact integer
    // comparison 625·D² ≥ 2401·n (the q_srm_check arithmetic — BIGINT
    // exact to ~9e14 pairs). Shape: ONE (day) shuffle collapses the
    // corpus; the index window and the offset self-join run on the
    // day frame, bounded by the calendar horizon, never the corpus.
    QueryDef("q_cox_stuart",
      (spark, sf) => {
        val daily = load(spark, sf, "events")
          .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("n"))
        val idx = daily.withColumn("i",
          row_number().over(Window.orderBy(col("d"))))
        val tot = idx.agg(count(lit(1)).as("nd"))
          .select(col("nd"), expr("nd div 2").as("m"),
            expr("nd - nd div 2").as("off"))
        val paired = idx.as("x").crossJoin(broadcast(tot))
          .join(idx.as("y"), col("y.i") === col("x.i") + col("off"))
          .filter(col("x.i") <= col("m"))
          .select(col("nd"), col("x.n").as("xn"), col("y.n").as("yn"))
        val st = paired.groupBy(col("nd")).agg(
          sum(when(col("yn") > col("xn"), 1L).otherwise(0L)).as("s_plus"),
          sum(when(col("yn") < col("xn"), 1L).otherwise(0L)).as("s_minus"))
        val n = col("s_plus") + col("s_minus")
        st.select(col("nd"), col("s_plus"), col("s_minus"),
          when(n > 0, round(expr(
            """POW(CAST(s_plus - s_minus AS DOUBLE), 2)
              |  / (s_plus + s_minus)""".stripMargin), 4)).as("z2"),
          when(n > 0, expr(
            """CAST(625 * (s_plus - s_minus) * (s_plus - s_minus)
              |  >= 2401 * (s_plus + s_minus) AS INT)""".stripMargin))
            .as("significant"),
          expr(
            """CASE WHEN s_plus + s_minus = 0
              |    OR 625 * (s_plus - s_minus) * (s_plus - s_minus)
              |       < 2401 * (s_plus + s_minus) THEN 'none'
              |  WHEN s_plus > s_minus THEN 'increasing'
              |  ELSE 'decreasing' END""".stripMargin).as("trend"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1),
             |idx AS (SELECT n, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
             |    CAST(COUNT(*) // 2 AS BIGINT) AS m,
             |    CAST(COUNT(*) - COUNT(*) // 2 AS BIGINT) AS off
             |  FROM idx),
             |p AS (
             |  SELECT nd, x.n AS xn, y.n AS yn
             |  FROM idx x CROSS JOIN tot
             |  JOIN idx y ON y.i = x.i + off
             |  WHERE x.i <= m),
             |st AS (
             |  SELECT nd,
             |    CAST(SUM(CASE WHEN yn > xn THEN 1 ELSE 0 END) AS BIGINT) AS s_plus,
             |    CAST(SUM(CASE WHEN yn < xn THEN 1 ELSE 0 END) AS BIGINT) AS s_minus
             |  FROM p GROUP BY nd)
             |SELECT nd, s_plus, s_minus,
             |  CASE WHEN s_plus + s_minus > 0 THEN
             |    ROUND(POW(CAST(s_plus - s_minus AS DOUBLE), 2)
             |      / (s_plus + s_minus), 4) END AS z2,
             |  CASE WHEN s_plus + s_minus > 0 THEN
             |    CAST(625 * (s_plus - s_minus) * (s_plus - s_minus)
             |      >= 2401 * (s_plus + s_minus) AS INT) END AS significant,
             |  CASE WHEN s_plus + s_minus = 0
             |      OR 625 * (s_plus - s_minus) * (s_plus - s_minus)
             |         < 2401 * (s_plus + s_minus) THEN 'none'
             |    WHEN s_plus > s_minus THEN 'increasing'
             |    ELSE 'decreasing' END AS trend
             |FROM st""".stripMargin)),
    // Mann–Kendall trend test on the daily ingest series — the
    // rank-based standard (Mann 1945, Kendall's S; public) that the
    // sign-pair Cox–Stuart screen refines: ALL C(nd,2) day pairs vote
    // sign(n_j − n_i), variance carries the exact tie correction, and
    // the continuity-corrected decision is EXACT integer arithmetic:
    // 18·Var(S) = nd(nd−1)(2nd+5) − Σt(t−1)(2t+5), reject at α=0.05
    // iff 11250·(|S|−1)² ≥ 2401·var18 (= 625·18 cross-multiplied —
    // BIGINT-safe to ~10⁵ days). The day-pair quadratic is bounded by
    // the CALENDAR HORIZON (30 days → 435 pairs here), never the
    // corpus: one day shuffle collapses everything first. Pair
    // generation explodes sequence(1,i) with a strict i2<i filter —
    // Spark's sequence(1,0) DESCENDS, so the naive sequence(1,i−1)
    // would fabricate a (1,0) pair at i=1 — then joins back KEYED on
    // the index (hash join, no nested loop).
    QueryDef("q_mann_kendall",
      (spark, sf) => {
        val daily = load(spark, sf, "events")
          .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("n"))
        val idx = daily.withColumn("i",
          row_number().over(Window.orderBy(col("d")))).select("i", "n")
        val pairs = idx.select(col("i").as("j"), col("n").as("nj"),
            explode(expr("sequence(1, i)")).as("i2"))
          .filter(col("i2") < col("j"))
          .join(idx.withColumnRenamed("n", "ni"), col("i2") === col("i"))
        val sAgg = pairs.agg(
          sum(when(col("nj") > col("ni"), 1L)
            .when(col("nj") < col("ni"), -1L).otherwise(0L)).as("s"))
        val ties = idx.groupBy(col("n")).agg(count(lit(1)).as("t"))
          .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L))
            .as("tc"))
        val nd = idx.agg(count(lit(1)).as("nd"))
        val st = sAgg.crossJoin(broadcast(nd)).crossJoin(broadcast(ties))
          .select(col("nd"), col("s"),
            expr("nd * (nd - 1) * (2 * nd + 5) - tc").as("var18"))
        st.select(col("nd"), col("s"), col("var18"),
          when(col("var18") > 0, round(expr(
            """CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / SQRT(var18 / 18.0)
              |  WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / SQRT(var18 / 18.0)
              |  ELSE 0.0 END""".stripMargin), 4)).as("z"),
          when(col("var18") > 0, expr(
            """CAST(s <> 0 AND 11250 * (ABS(s) - 1) * (ABS(s) - 1)
              |  >= 2401 * var18 AS INT)""".stripMargin)).as("significant"),
          expr(
            """CASE WHEN var18 <= 0 OR s = 0
              |    OR 11250 * (ABS(s) - 1) * (ABS(s) - 1) < 2401 * var18
              |  THEN 'none'
              |  WHEN s > 0 THEN 'increasing' ELSE 'decreasing' END"""
              .stripMargin).as("trend"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1),
             |idx AS (SELECT n, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily),
             |p AS (
             |  SELECT a.n AS ni, b.n AS nj
             |  FROM idx a JOIN idx b ON a.i < b.i),
             |sa AS (
             |  SELECT CAST(SUM(CASE WHEN nj > ni THEN 1
             |    WHEN nj < ni THEN -1 ELSE 0 END) AS BIGINT) AS s
             |  FROM p),
             |ties AS (
             |  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tc
             |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM idx GROUP BY n)),
             |st AS (
             |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM idx) AS nd, s,
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM idx)
             |      * ((SELECT COUNT(*) FROM idx) - 1)
             |      * (2 * (SELECT COUNT(*) FROM idx) + 5) - tc AS var18
             |  FROM sa CROSS JOIN ties)
             |SELECT nd, s, CAST(var18 AS BIGINT) AS var18,
             |  CASE WHEN var18 > 0 THEN
             |    ROUND(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / SQRT(var18 / 18.0)
             |      WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / SQRT(var18 / 18.0)
             |      ELSE 0.0 END, 4) END AS z,
             |  CASE WHEN var18 > 0 THEN
             |    CAST(s <> 0 AND 11250 * (ABS(s) - 1) * (ABS(s) - 1)
             |      >= 2401 * var18 AS INT) END AS significant,
             |  CASE WHEN var18 <= 0 OR s = 0
             |      OR 11250 * (ABS(s) - 1) * (ABS(s) - 1) < 2401 * var18
             |    THEN 'none'
             |    WHEN s > 0 THEN 'increasing' ELSE 'decreasing' END AS trend
             |FROM st""".stripMargin)),

    // Theil–Sen slope — Mann–Kendall's companion ESTIMATOR (Theil
    // 1950, Sen 1968; public): the median of all C(nd,2) pairwise
    // slopes (n_j−n_i)/(j−i), robust to ~29% outlier days where OLS
    // (q_rolling_regression) breaks on one. Each slope is ONE
    // exact-rounded IEEE division of exact integers → bit-identical
    // doubles; the lower median is an ORDER STATISTIC (rank
    // (cnt+1) div 2 with (slope, i, j) total order), so no engine
    // quantile semantics are involved. Same calendar-horizon-bounded
    // pair frame as q_mann_kendall (435 rows at nd = 30) — the
    // single-partition rank window is over pairs of DAYS, never rows.
    QueryDef("q_theil_sen",
      (spark, sf) => {
        val daily = load(spark, sf, "events")
          .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("n"))
        val idx = daily.withColumn("i",
          row_number().over(Window.orderBy(col("d")))).select("i", "n")
        val pairs = idx.select(col("i").as("j"), col("n").as("nj"),
            explode(expr("sequence(1, i)")).as("i2"))
          .filter(col("i2") < col("j"))
          .join(idx.withColumnRenamed("n", "ni"), col("i2") === col("i"))
          .select(col("i"), col("j"), col("ni"), col("nj"),
            expr("CAST(nj - ni AS DOUBLE) / (j - i)").as("slope"))
        val ranked = pairs.withColumn("rn", row_number().over(
          Window.orderBy(col("slope"), col("i"), col("j"))))
        val cnt = pairs.agg(count(lit(1)).as("n_pairs"))
        ranked.crossJoin(broadcast(cnt))
          .filter(col("rn") === expr("(n_pairs + 1) div 2"))
          .select(col("n_pairs"), round(col("slope"), 6).as("median_slope"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1),
             |idx AS (SELECT n, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily),
             |p AS (
             |  SELECT a.i AS i, b.i AS j,
             |    CAST(b.n - a.n AS DOUBLE) / (b.i - a.i) AS slope
             |  FROM idx a JOIN idx b ON a.i < b.i),
             |r AS (
             |  SELECT slope, ROW_NUMBER() OVER (ORDER BY slope, i, j) AS rn
             |  FROM p),
             |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM p)
             |SELECT n_pairs, ROUND(slope, 6) AS median_slope
             |FROM r CROSS JOIN c WHERE rn = (n_pairs + 1) // 2""".stripMargin)),
    // Ljung–Box portmanteau test (Ljung & Box 1978, public) on the
    // daily ingest series — "is what's left after the trend monitors
    // (q_mann_kendall / q_cox_stuart) just white noise, or is there
    // autocorrelation structure?" — the residual-diagnostics step of
    // every forecasting pipeline. Autocorrelations are computed on the
    // EXACT integer centered series a_t = nd·x_t − S (scaling by nd
    // clears the mean without floats): r_k = Σa_t·a_{t+k} / Σa_t², so
    // each lag's numerator and the common denominator are exact
    // BIGINTs (|a_t| ≤ nd·x_max — safe to ~10⁸-event days at nd = 30).
    // The seven per-lag numerators are PIVOTED onto one row so that
    // Q = nd(nd+2)·Σ_k r_k²/(nd−k) is a single expression with an
    // EXPLICIT left-to-right addition order — a SUM() over double
    // terms would let each engine add in its own order and break
    // bit-parity; spelled-out addition is IEEE-deterministic. The
    // α=0.05 verdict vs χ²₍₇₎ = 14.067 rides that deterministic
    // double (q_delta_ratio precedent: the cleared-denominator
    // rational needs num², ~10²⁷ here, past comfortable DECIMAL(38)
    // headroom once multiplied by the seven (nd−k) factors). Shape:
    // ONE day shuffle; the lag joins explode k = 1..7 on the 30-row
    // day frame and join back KEYED on the index.
    QueryDef("q_ljung_box",
      (spark, sf) => {
        val daily = load(spark, sf, "events")
          .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("x"))
        val idx = daily.withColumn("i",
          row_number().over(Window.orderBy(col("d")))).select("i", "x")
        val tot = idx.agg(count(lit(1)).as("nd"), sum(col("x")).as("s"))
        val a = idx.crossJoin(broadcast(tot))
          .select(col("i"), col("nd"),
            (col("nd") * col("x") - col("s")).as("a"))
        val den = a.agg(sum(col("a") * col("a")).as("den"),
          max(col("nd")).as("nd"))
        val lagged = a.select(col("i"), col("a"),
            explode(expr("sequence(1, 7)")).as("k"))
          .join(a.select(col("i").as("i2"), col("a").as("a2")),
            col("i2") === col("i") + col("k"))
          .groupBy(col("k")).agg(sum(col("a") * col("a2")).as("num"))
        val pivCols = (1 to 7).map(k =>
          max(when(col("k") === k, col("num"))).as(s"n$k"))
        val wide = lagged.agg(pivCols.head, pivCols.tail: _*)
        val rs = (1 to 7).map(k => s"CAST(n$k AS DOUBLE) / den")
          .mkString(" + ")
        val ts = (1 to 7).map(k =>
          s"(CAST(n$k AS DOUBLE) / den) * (CAST(n$k AS DOUBLE) / den) / (nd - $k)")
          .mkString("(", "\n              + ", ")")
        // den = 0 (every day identical) must be an explicit NULL on both
        // engines: Spark's Divide yields NULL on /0 while DuckDB's IEEE
        // float ops yield inf/NaN — the positive-variance guard the
        // sibling queries (WelchVarPos, DeltaRatioVarPos) use
        wide.crossJoin(broadcast(den))
          .select(col("nd"),
            when(col("den") > 0, round(expr(rs), 6)).as("r_sum"),
            when(col("den") > 0,
              round(expr(s"nd * (nd + 2.0) * $ts"), 4)).as("q_stat"),
            when(col("den") > 0,
              expr(s"CAST(nd * (nd + 2.0) * $ts >= 14.067 AS INT)"))
              .as("autocorrelated"))
      },
      Some {
        val rs = (1 to 7).map(k => s"CAST(n$k AS DOUBLE) / den")
          .mkString(" + ")
        val ts = (1 to 7).map(k =>
          s"(CAST(n$k AS DOUBLE) / den) * (CAST(n$k AS DOUBLE) / den) / (nd - $k)")
          .mkString("(", "\n              + ", ")")
        val piv = (1 to 7).map(k =>
          s"CAST(MAX(CASE WHEN k = $k THEN num END) AS BIGINT) AS n$k")
          .mkString(",\n             ")
        s"""WITH daily AS (
           |  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
           |  FROM events GROUP BY 1),
           |idx AS (SELECT x, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily),
           |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
           |    CAST(SUM(x) AS BIGINT) AS s FROM idx),
           |a AS (
           |  SELECT i, nd, CAST(nd * x - s AS BIGINT) AS a
           |  FROM idx CROSS JOIN tot),
           |den AS (SELECT CAST(SUM(a * a) AS BIGINT) AS den,
           |    MAX(nd) AS nd FROM a),
           |lagged AS (
           |  SELECT k, CAST(SUM(b.a * c.a) AS BIGINT) AS num
           |  FROM a b
           |  CROSS JOIN (SELECT unnest(range(1, 8)) AS k)
           |  JOIN a c ON c.i = b.i + k
           |  GROUP BY k),
           |wide AS (
           |  SELECT $piv
           |  FROM lagged)
           |SELECT nd,
           |  CASE WHEN den > 0 THEN ROUND($rs, 6) END AS r_sum,
           |  CASE WHEN den > 0
           |    THEN ROUND(nd * (nd + 2.0) * $ts, 4) END AS q_stat,
           |  CASE WHEN den > 0
           |    THEN CAST(nd * (nd + 2.0) * $ts >= 14.067 AS INT)
           |  END AS autocorrelated
           |FROM wide CROSS JOIN den""".stripMargin
      }),

    // Covariate balance check (standardized mean difference) — the
    // OTHER pre-experiment guardrail next to q_srm_check: even with a
    // healthy sample ratio, a broken randomizer can correlate
    // assignment with a pre-treatment covariate; |SMD| ≤ 0.1 is the
    // public rule of thumb (Austin 2009). Exact integer moments of
    // account balance (cents) per arm from ONE map-side-combined
    // aggregate; SMD = (m_a − m_b)/√((v_a+v_b)/2) is one expression
    // whose only libm call is the correctly-rounded SQRT —
    // bit-identical cross-engine — and the balance verdict compares
    // that deterministic double against the 0.1 literal.
    QueryDef("q_smd_balance",
      (spark, sf) => {
        val s = load(spark, sf, "customer")
          .select((col("c_custkey") % 2 === 0).as("grp_a"),
            cents(col("c_acctbal")).as("v"))
          .agg(
            sum(when(col("grp_a"), 1L).otherwise(0L)).as("n_a"),
            sum(when(col("grp_a"), col("v")).otherwise(0L)).as("s_a"),
            sum(when(col("grp_a"), col("v") * col("v")).otherwise(0L)).as("q_a"),
            sum(when(!col("grp_a"), 1L).otherwise(0L)).as("n_b"),
            sum(when(!col("grp_a"), col("v")).otherwise(0L)).as("s_b"),
            sum(when(!col("grp_a"), col("v") * col("v")).otherwise(0L)).as("q_b"))
        val ok = col("n_a") > 1 && col("n_b") > 1 &&
          expr(Shared.WelchVarPos)
        s.select(col("n_a"), col("s_a"), col("n_b"), col("s_b"),
          when(ok, round(expr(Shared.SmdExpr), 6)).as("smd"),
          when(ok, expr(
            s"CAST(${Shared.SmdExpr} <= 0.1 AND ${Shared.SmdExpr} >= -0.1 AS INT)"))
            .as("balanced"))
      },
      Some(s"""WITH s AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN c_custkey % 2 = 0
             |          THEN CAST(ROUND(c_acctbal*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_a,
             |    CAST(SUM(CASE WHEN c_custkey % 2 = 0
             |          THEN CAST(ROUND(c_acctbal*100) AS BIGINT)
             |             * CAST(ROUND(c_acctbal*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS q_a,
             |    CAST(SUM(CASE WHEN c_custkey % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |    CAST(SUM(CASE WHEN c_custkey % 2 <> 0
             |          THEN CAST(ROUND(c_acctbal*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_b,
             |    CAST(SUM(CASE WHEN c_custkey % 2 <> 0
             |          THEN CAST(ROUND(c_acctbal*100) AS BIGINT)
             |             * CAST(ROUND(c_acctbal*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS q_b
             |  FROM customer)
             |SELECT n_a, s_a, n_b, s_b,
             |  CASE WHEN n_a > 1 AND n_b > 1 AND ${Shared.WelchVarPos} THEN
             |    ROUND(${Shared.SmdExpr}, 6) END AS smd,
             |  CASE WHEN n_a > 1 AND n_b > 1 AND ${Shared.WelchVarPos} THEN
             |    CAST(${Shared.SmdExpr} <= 0.1 AND ${Shared.SmdExpr} >= -0.1 AS INT)
             |  END AS balanced
             |FROM s""".stripMargin)),

    // Page–Hinkley drift detector over the daily series — the
    // sequential level-shift alarm (Page 1954, public; the CUSUM
    // sibling q_changepoint locates a shift retrospectively, PH ALARMS
    // online). Reformulated in EXACT integers so the sequential state
    // replays bit-identically: the running mean is the truncating
    // division S_i div i (disclosed integer variant — counts are
    // non-negative so the engines' truncation agrees), the drift
    // allowance δ is 5% of the global daily mean and the alarm
    // threshold λ is 2× that mean — both derived from the 1-row
    // totals, no tuning floats. m_t and its running minimum are
    // integer window aggregates over the 30-row day frame (bounded by
    // the calendar horizon, never the corpus); alarm fires when
    // m_t − min_{s≤t} m_s > λ.
    QueryDef("q_page_hinkley",
      (spark, sf) => {
        val daily = load(spark, sf, "events")
          .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("x"))
        val w = Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val idx = daily
          .withColumn("i", row_number().over(Window.orderBy(col("d"))))
          .withColumn("si", sum(col("x")).over(w))
        val tot = daily.agg(sum(col("x")).as("s"), count(lit(1)).as("nd"))
          .select(expr("(s div nd) div 20").as("delta"),
            expr("(s div nd) * 2").as("lambda"))
        val dev = idx.crossJoin(broadcast(tot))
          .withColumn("devt", col("x") - expr("si div i") - col("delta"))
        val m = dev.withColumn("mt", sum(col("devt")).over(w))
        m.withColumn("mmin", min(col("mt")).over(w))
          .select(col("d"), col("x"), col("mt"),
            (col("mt") - col("mmin")).as("gap"), col("lambda"),
            (col("mt") - col("mmin") > col("lambda")).as("alarm"))
          .orderBy(col("d"))
      },
      Some(Shared.PageHinkleyOracle)),
    // Benjamini–Hochberg FDR control across the per-metric tests —
    // the multiple-testing step (Benjamini & Hochberg 1995, public)
    // every experimentation platform needs once it reads out more
    // than one metric: each event type's conversion gets the pooled
    // two-proportion z², tests are ranked by evidence, and rank i is
    // compared against the χ²₁ quantile at i·α/m (m = 5 metrics,
    // α = 0.05 → the public table constants 6.6349 … 3.8415, scaled
    // ×10⁴ to exact integers). Every per-rank decision is EXACT
    // integer arithmetic in DECIMAL(38)/HUGEINT (the q_obrien_fleming
    // pattern, with its raise_error domain tripwire); the BH cutoff
    // (largest passing rank; everything above it rejected) is a
    // window over the 5-row metric frame. Ranking uses ord =
    // CASE ok THEN z² ELSE −1 — a never-NULL double — because the
    // engines' NULL-ordering defaults differ; z² itself is
    // IEEE-deterministic on the exact counts. Shape: one
    // (user, type) distinct + one user distinct, then 5-row frames.
    QueryDef("q_bh_fdr",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
        val users = ev.select(col("user_id")).distinct()
          .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("user_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_b"))
        val byType = ev.select(col("user_id"), col("event_type")).distinct()
          .groupBy(col("event_type"))
          .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("x_a"),
            sum(when(col("user_id") % 2 =!= 0, 1L).otherwise(0L)).as("x_b"))
        val t = byType.crossJoin(broadcast(users))
        val ok = col("n_a") > 0 && col("n_b") > 0 &&
          col("x_a") + col("x_b") > 0 &&
          col("x_a") + col("x_b") < col("n_a") + col("n_b")
        val z2txt =
          """POW(CAST(x_a * n_b - x_b * n_a AS DOUBLE), 2) * (n_a + n_b)
            |  / (CAST(n_a AS DOUBLE) * n_b * (x_a + x_b)
            |     * (n_a + n_b - x_a - x_b))""".stripMargin
        val scored = t.select(col("event_type"),
            col("n_a"), col("x_a"), col("n_b"), col("x_b"),
            when(ok, round(expr(z2txt), 4)).as("z2"),
            when(ok, expr(z2txt)).otherwise(lit(-1.0)).as("ord"))
          .withColumn("rank", row_number().over(
            Window.orderBy(col("ord").desc, col("event_type"))))
          // the chi-square(1) thresholds are tabulated for m = 5 ranked
          // metrics (alpha*i/m for i=1..5); a 6th event_type would read
          // past the array and silently NULL out its decision — trip the
          // same loud domain guard the DECIMAL overflow path uses
          .withColumn("bh_threshold_e4", expr(
            """CASE WHEN rank > 5 THEN CAST(raise_error(CONCAT(
              |  'q_bh_fdr: thresholds tabulated for m=5 metrics, got rank ',
              |  CAST(rank AS STRING), ' - retabulate alpha*i/m')) AS INT)
              |ELSE element_at(array(66349, 54119, 47093, 42179, 38415), rank)
              |END""".stripMargin))
          .withColumn("passed", expr(
            """CASE WHEN ord < 0 THEN 0
              |  WHEN 10000 * POW(CAST(x_a * n_b - x_b * n_a AS DOUBLE), 2)
              |       * (n_a + n_b) > 1e36
              |    OR CAST(bh_threshold_e4 AS DOUBLE) * n_a * n_b
              |       * (x_a + x_b) * (n_a + n_b - x_a - x_b) > 1e36
              |  THEN CAST(raise_error(CONCAT('q_bh_fdr: counts exceed the ',
              |    'DECIMAL(38) exact-decision domain - decide on the z2 ',
              |    'double')) AS INT)
              |  ELSE CAST(
              |    CAST(x_a * n_b - x_b * n_a AS DECIMAL(38,0))
              |      * (x_a * n_b - x_b * n_a) * (n_a + n_b) * 10000
              |    >= CAST(bh_threshold_e4 AS DECIMAL(38,0)) * n_a * n_b
              |      * (x_a + x_b) * (n_a + n_b - x_a - x_b)
              |    AS INT) END""".stripMargin))
        val w = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        scored
          .withColumn("bh_cutoff", coalesce(
            max(when(col("passed") === 1, col("rank"))).over(
              Window.orderBy(col("rank")).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing)),
            lit(0)))
          .select(col("event_type"), col("rank"),
            col("n_a"), col("x_a"), col("n_b"), col("x_b"),
            when(col("ord") >= 0, col("z2")).as("z2"),
            col("bh_threshold_e4"), col("passed"),
            (col("rank") <= col("bh_cutoff")).cast("int").as("rejected"))
          .orderBy(col("rank"))
      },
      Some("""WITH users AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
             |  FROM (SELECT DISTINCT user_id FROM events)),
             |bytype AS (
             |  SELECT event_type,
             |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
             |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS x_b
             |  FROM (SELECT DISTINCT user_id, event_type FROM events)
             |  GROUP BY event_type),
             |t AS (SELECT * FROM bytype CROSS JOIN users),
             |scored AS (
             |  SELECT event_type, n_a, x_a, n_b, x_b,
             |    CASE WHEN n_a > 0 AND n_b > 0 AND x_a + x_b > 0
             |        AND x_a + x_b < n_a + n_b THEN
             |      ROUND(POW(CAST(x_a * n_b - x_b * n_a AS DOUBLE), 2) * (n_a + n_b)
             |        / (CAST(n_a AS DOUBLE) * n_b * (x_a + x_b)
             |           * (n_a + n_b - x_a - x_b)), 4) END AS z2,
             |    CASE WHEN n_a > 0 AND n_b > 0 AND x_a + x_b > 0
             |        AND x_a + x_b < n_a + n_b THEN
             |      POW(CAST(x_a * n_b - x_b * n_a AS DOUBLE), 2) * (n_a + n_b)
             |        / (CAST(n_a AS DOUBLE) * n_b * (x_a + x_b)
             |           * (n_a + n_b - x_a - x_b))
             |    ELSE -1.0 END AS ord
             |  FROM t),
             |ranked AS (
             |  SELECT *, ROW_NUMBER() OVER (ORDER BY ord DESC, event_type) AS rank,
             |    list_extract([66349, 54119, 47093, 42179, 38415],
             |      CAST(ROW_NUMBER() OVER (ORDER BY ord DESC, event_type) AS INT))
             |      AS bh_threshold_e4
             |  FROM scored),
             |dec AS (
             |  SELECT *,
             |    CASE WHEN ord < 0 THEN 0
             |      ELSE CAST(
             |        CAST(x_a * n_b - x_b * n_a AS HUGEINT)
             |          * (x_a * n_b - x_b * n_a) * (n_a + n_b) * 10000
             |        >= CAST(bh_threshold_e4 AS HUGEINT) * n_a * n_b
             |          * (x_a + x_b) * (n_a + n_b - x_a - x_b) AS INT) END AS passed
             |  FROM ranked),
             |cut AS (SELECT COALESCE(MAX(CASE WHEN passed = 1 THEN rank END), 0)
             |    AS bh_cutoff FROM dec)
             |SELECT event_type, CAST(rank AS INT) AS rank,
             |  n_a, x_a, n_b, x_b,
             |  CASE WHEN ord >= 0 THEN z2 END AS z2,
             |  CAST(bh_threshold_e4 AS INT) AS bh_threshold_e4, passed,
             |  CAST(rank <= bh_cutoff AS INT) AS rejected
             |FROM dec CROSS JOIN cut ORDER BY rank""".stripMargin)),

    // Gini coefficient of per-customer revenue — the concentration
    // profile ("what share of revenue do the top customers hold") a
    // data card reports for any heavy-tailed column, and the
    // motivation for q_winsorized_mean's capping. The closed form on
    // sorted values G = (2Σi·y₍ᵢ₎ − (n+1)Σy)/(n·Σy) is EXACT integers
    // end to end: the global sort is the distributed Rank primitive
    // (range shuffle + O(partitions) offsets, constant task memory at
    // any scale — never a single-partition window), whole-dollar
    // units keep Σi·y in BIGINT to ~10⁶ customers, and an
    // order-insensitive double shadow-sum trips raise_error at 4e18
    // (the q_delta_ratio discipline). Tie order is irrelevant: equal
    // values contribute the same sum under any permutation. One final
    // IEEE division → bit-identical G.
    QueryDef("q_gini",
      (spark, sf) => {
        val per = load(spark, sf, "orders")
          .select(col("o_custkey"),
            round(col("o_totalprice")).cast("long").as("c"))
          .groupBy(col("o_custkey")).agg(sum(col("c")).as("y"))
        val ranked = graft.ops.Rank.rankGlobal(
          per, Seq(col("y"), col("o_custkey")), "i")
        val s = ranked.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
          sum(col("i") * col("y")).as("siy"),
          sum(col("i").cast("double") * col("y")).as("shadow"))
        s.select(col("n").as("n_users"), col("sy").as("total_rev"),
          expr(
            """CASE WHEN shadow > 4e18
              |THEN CAST(raise_error('q_gini: rank-weighted revenue sum approaches BIGINT wrap - rescale the metric') AS INT)
              |ELSE 1 END""".stripMargin).as("domain_ok"),
          when(col("n") > 0 && col("sy") > 0, round(expr(
            """(2.0 * siy - (CAST(n AS DOUBLE) + 1) * sy)
              |  / (CAST(n AS DOUBLE) * sy)""".stripMargin), 6)).as("gini"))
      },
      Some("""WITH per AS (
             |  SELECT o_custkey,
             |    CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
             |  FROM orders GROUP BY o_custkey),
             |r AS (
             |  SELECT y, ROW_NUMBER() OVER (ORDER BY y, o_custkey) AS i
             |  FROM per),
             |s AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(y) AS BIGINT) AS sy,
             |    CAST(SUM(i * y) AS BIGINT) AS siy,
             |    SUM(CAST(i AS DOUBLE) * y) AS shadow
             |  FROM r)
             |SELECT n AS n_users, sy AS total_rev,
             |  CASE WHEN shadow > 4e18
             |  THEN CAST(error('q_gini: rank-weighted revenue sum approaches BIGINT wrap - rescale the metric') AS INT)
             |  ELSE 1 END AS domain_ok,
             |  CASE WHEN n > 0 AND sy > 0 THEN
             |    ROUND((2.0 * siy - (CAST(n AS DOUBLE) + 1) * sy)
             |      / (CAST(n AS DOUBLE) * sy), 6) END AS gini
             |FROM s""".stripMargin)),
    // Rolling-origin forecast backtest — the evaluation loop behind
    // every capacity-planning forecast (Hyndman & Athanasopoulos,
    // public textbook): hold out the final 7 days, score naive
    // (ŷ_t = y_{t−1}) against seasonal-naive (ŷ_t = y_{t−7}) on the
    // holdout, and scale by the in-sample naive MAE (the MASE
    // denominator — unit-free, comparable across series). Absolute
    // errors are exact integer |y − ŷ|; MAE ratios are scaled to ppm
    // by truncating integer division (both engines agree on
    // non-negative operands), so model selection is an EXACT integer
    // argmin — no float anywhere. Both models are scored on the
    // COMMON-SUPPORT frame (days with both a 1-day and a 7-day lag,
    // i ≥ 8) so neither gets free days the other lacks — disclosed;
    // the in-sample MASE denominator uses the same support. Shape:
    // ONE day shuffle; lag lookups are keyed self-joins on the 30-row
    // day frame (bounded by the calendar horizon, never the corpus).
    QueryDef("q_forecast_backtest",
      (spark, sf) => {
        val daily = load(spark, sf, "events")
          .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("y"))
        val idx = daily.withColumn("i",
          row_number().over(Window.orderBy(col("d")))).select("i", "y")
        val tot = idx.agg(count(lit(1)).as("nd"))
        val holdout = 7L
        val j1 = idx.as("c").join(idx.as("p1"),
            col("p1.i") === col("c.i") - 1)
          .join(idx.as("p7"), col("p7.i") === col("c.i") - 7)
          .crossJoin(broadcast(tot))
          .select(col("c.i").as("i"), col("nd"),
            abs(col("c.y") - col("p1.y")).as("e1"),
            abs(col("c.y") - col("p7.y")).as("e7"))
        val sc = j1.agg(
          max(col("nd")).as("nd"),
          sum(when(col("i") > col("nd") - holdout, 1L).otherwise(0L))
            .as("n_test"),
          sum(when(col("i") > col("nd") - holdout, col("e1")).otherwise(0L))
            .as("sae_naive"),
          sum(when(col("i") > col("nd") - holdout, col("e7")).otherwise(0L))
            .as("sae_snaive"),
          sum(when(col("i") <= col("nd") - holdout, 1L).otherwise(0L))
            .as("n_train"),
          sum(when(col("i") <= col("nd") - holdout, col("e1")).otherwise(0L))
            .as("sae_insample"))
        sc.select(col("nd"), col("n_test"), col("n_train"),
          col("sae_naive"), col("sae_snaive"), col("sae_insample"),
          when(col("sae_insample") > 0 && col("n_test") > 0 &&
            col("n_train") > 0, expr(
            "sae_naive * n_train * 1000000 div (sae_insample * n_test)"))
            .as("mase_naive_ppm"),
          when(col("sae_insample") > 0 && col("n_test") > 0 &&
            col("n_train") > 0, expr(
            "sae_snaive * n_train * 1000000 div (sae_insample * n_test)"))
            .as("mase_snaive_ppm"),
          when(col("n_test") > 0, expr(
            """CASE WHEN sae_snaive < sae_naive THEN 'seasonal_naive'
              |  WHEN sae_naive < sae_snaive THEN 'naive'
              |  ELSE 'tie' END""".stripMargin)).as("winner"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
             |  FROM events GROUP BY 1),
             |idx AS (SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM idx),
             |j1 AS (
             |  SELECT c.i AS i, nd,
             |    ABS(c.y - p1.y) AS e1, ABS(c.y - p7.y) AS e7
             |  FROM idx c
             |  JOIN idx p1 ON p1.i = c.i - 1
             |  JOIN idx p7 ON p7.i = c.i - 7
             |  CROSS JOIN tot),
             |sc AS (
             |  SELECT MAX(nd) AS nd,
             |    CAST(SUM(CASE WHEN i > nd - 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
             |    CAST(SUM(CASE WHEN i > nd - 7 THEN e1 ELSE 0 END) AS BIGINT) AS sae_naive,
             |    CAST(SUM(CASE WHEN i > nd - 7 THEN e7 ELSE 0 END) AS BIGINT) AS sae_snaive,
             |    CAST(SUM(CASE WHEN i <= nd - 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
             |    CAST(SUM(CASE WHEN i <= nd - 7 THEN e1 ELSE 0 END) AS BIGINT) AS sae_insample
             |  FROM j1)
             |SELECT nd, n_test, n_train, sae_naive, sae_snaive, sae_insample,
             |  CASE WHEN sae_insample > 0 AND n_test > 0 AND n_train > 0 THEN
             |    sae_naive * n_train * 1000000 // (sae_insample * n_test)
             |  END AS mase_naive_ppm,
             |  CASE WHEN sae_insample > 0 AND n_test > 0 AND n_train > 0 THEN
             |    sae_snaive * n_train * 1000000 // (sae_insample * n_test)
             |  END AS mase_snaive_ppm,
             |  CASE WHEN n_test > 0 THEN
             |    CASE WHEN sae_snaive < sae_naive THEN 'seasonal_naive'
             |      WHEN sae_naive < sae_snaive THEN 'naive'
             |      ELSE 'tie' END END AS winner
             |FROM sc""".stripMargin)),
    // Off-policy evaluation by inverse propensity scoring — the
    // counterfactual read-out (Horvitz–Thompson / Li et al. 2011,
    // public) that turns LOGGED interaction data into an estimate of a
    // NEW policy's value without an experiment: each logged event is
    // reweighted by 1/p(action) when the target policy would have
    // chosen the same action. Logging propensities here are the
    // corpus's own empirical action distribution in exact ppm (the
    // randomized-logging assumption is disclosed — this gate scores
    // the ESTIMATOR's arithmetic, not a real bandit); the target
    // policy is a deterministic user rule (even users → 'purchase',
    // odd → 'view'), so everything replays. Per-event terms are
    // truncating integer divisions r·10⁶ div p_ppm (order-independent
    // to SUM — the eval_avg_precision quantization discipline, error
    // ≤ 1e-6·r per event, disclosed); both the IPS mean and the
    // self-normalized SNIPS ratio are one final division. Shape: one
    // 5-row propensity aggregate broadcast onto a single fact scan.
    QueryDef("q_ips_eval",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
          .select(col("user_id"), col("event_type"),
            cents(col("value")).as("r"))
        val tot = ev.agg(count(lit(1)).as("n"))
        val prop = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(tot))
          .select(col("event_type"),
            expr("cnt * 1000000 div n").as("p_ppm"))
        val scored = ev.join(broadcast(prop), Seq("event_type"))
          .crossJoin(broadcast(tot))
          .withColumn("matched", expr(
            """CASE WHEN (user_id % 2 = 0 AND event_type = 'purchase')
              |  OR (user_id % 2 <> 0 AND event_type = 'view')
              |THEN 1 ELSE 0 END""".stripMargin))
          .select(col("n"),
            col("matched"),
            when(col("p_ppm") > 0,
              expr("matched * (r * 1000000 div p_ppm)")).otherwise(0L)
              .as("w_r"),
            when(col("p_ppm") > 0,
              expr("matched * (1000000000000 div p_ppm)")).otherwise(0L)
              .as("w_1"))
        scored.groupBy(col("n")).agg(
            sum(col("matched")).as("n_matched"),
            sum(col("w_r")).as("sum_wr"),
            sum(col("w_1")).as("sum_w1"))
          .select(col("n"), col("n_matched"),
            expr("n_matched * 1000000 div n").as("match_rate_ppm"),
            col("sum_wr"), col("sum_w1"),
            when(col("n") > 0, round(expr(
              "CAST(sum_wr AS DOUBLE) / n"), 4)).as("ips_value_cents"),
            when(col("sum_w1") > 0, round(expr(
              "CAST(sum_wr AS DOUBLE) * 1000000 / sum_w1"), 4))
              .as("snips_value_cents"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type,
             |    CAST(ROUND(value*100) AS BIGINT) AS r
             |  FROM events),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev),
             |prop AS (
             |  SELECT event_type,
             |    CAST(COUNT(*) AS BIGINT) * 1000000 // (SELECT n FROM tot)
             |      AS p_ppm
             |  FROM ev GROUP BY event_type),
             |scored AS (
             |  SELECT n,
             |    CASE WHEN (user_id % 2 = 0 AND ev.event_type = 'purchase')
             |      OR (user_id % 2 <> 0 AND ev.event_type = 'view')
             |    THEN 1 ELSE 0 END AS matched,
             |    CASE WHEN p_ppm > 0 THEN
             |      CASE WHEN (user_id % 2 = 0 AND ev.event_type = 'purchase')
             |        OR (user_id % 2 <> 0 AND ev.event_type = 'view')
             |      THEN 1 ELSE 0 END * (r * 1000000 // p_ppm) ELSE 0 END AS w_r,
             |    CASE WHEN p_ppm > 0 THEN
             |      CASE WHEN (user_id % 2 = 0 AND ev.event_type = 'purchase')
             |        OR (user_id % 2 <> 0 AND ev.event_type = 'view')
             |      THEN 1 ELSE 0 END * (1000000000000 // p_ppm) ELSE 0 END AS w_1
             |  FROM ev JOIN prop ON ev.event_type = prop.event_type
             |  CROSS JOIN tot)
             |SELECT n,
             |  CAST(SUM(matched) AS BIGINT) AS n_matched,
             |  CAST(SUM(matched) * 1000000 // n AS BIGINT) AS match_rate_ppm,
             |  CAST(SUM(w_r) AS BIGINT) AS sum_wr,
             |  CAST(SUM(w_1) AS BIGINT) AS sum_w1,
             |  CASE WHEN n > 0 THEN
             |    ROUND(CAST(SUM(w_r) AS DOUBLE) / n, 4) END AS ips_value_cents,
             |  CASE WHEN SUM(w_1) > 0 THEN
             |    ROUND(CAST(SUM(w_r) AS DOUBLE) * 1000000 / SUM(w_1), 4)
             |  END AS snips_value_cents
             |FROM scored GROUP BY n""".stripMargin)),
    // Doubly robust off-policy evaluation (Dudík, Langford & Li 2011,
    // public) — the estimator that stays consistent if EITHER the
    // reward model or the propensities are right: V_DR = (1/n)·Σ[
    // q̂(π(x)) + 1[a = π(x)]·(r − q̂(a))/p(a) ]. The reward model q̂ is
    // the per-action mean reward in exact MILLICENT units
    // (sum·1000 div cnt — one 5-row aggregate shared with the ppm
    // propensities); the correction term divides a SIGNED integer by
    // p_ppm — fine cross-engine because BOTH engines truncate integer
    // division toward zero (verified: −7 div 2 = −3 in Spark, DuckDB
    // and Scala alike; the non-negative-only convention elsewhere in
    // this repo is a simplification, not a requirement). Same
    // disclosed setting as q_ips_eval: empirical-propensity logging,
    // deterministic parity policy — the gate scores the estimator
    // arithmetic. One fact scan + a broadcast 5-row model frame.
    QueryDef("q_dr_eval",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
          .select(col("user_id"), col("event_type"),
            cents(col("value")).as("r"))
        val tot = ev.agg(count(lit(1)).as("n"))
        val model = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), sum(col("r")).as("sr"))
          .crossJoin(broadcast(tot))
          .select(col("event_type"),
            expr("cnt * 1000000 div n").as("p_ppm"),
            expr("sr * 1000 div cnt").as("q_mc"))
        val pi = expr(
          "CASE WHEN user_id % 2 = 0 THEN 'purchase' ELSE 'view' END")
        val scored = ev.withColumn("pi_a", pi)
          .join(broadcast(model.select(col("event_type"),
            col("p_ppm"), col("q_mc"))), Seq("event_type"))
          .join(broadcast(model.select(col("event_type").as("pi_a"),
            col("q_mc").as("q_pi_mc"))), Seq("pi_a"))
          .crossJoin(broadcast(tot))
          .select(col("n"), col("q_pi_mc"),
            when(col("p_ppm") > 0 && col("event_type") === col("pi_a"),
              expr("(r * 1000 - q_mc) * 1000000 div p_ppm"))
              .otherwise(0L).as("corr_mc"))
        scored.groupBy(col("n")).agg(
            sum(col("q_pi_mc")).as("sum_dm_mc"),
            sum(col("corr_mc")).as("sum_corr_mc"))
          .select(col("n"),
            when(col("n") > 0, round(expr(
              "CAST(sum_dm_mc AS DOUBLE) / n / 1000"), 4))
              .as("dm_value_cents"),
            when(col("n") > 0, round(expr(
              "(CAST(sum_dm_mc AS DOUBLE) + CAST(sum_corr_mc AS DOUBLE) / 1000000) / n / 1000"), 4))
              .as("dr_value_cents"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type,
             |    CAST(ROUND(value*100) AS BIGINT) AS r
             |  FROM events),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev),
             |model AS (
             |  SELECT event_type,
             |    CAST(COUNT(*) AS BIGINT) * 1000000 // (SELECT n FROM tot)
             |      AS p_ppm,
             |    CAST(SUM(r) AS BIGINT) * 1000 // CAST(COUNT(*) AS BIGINT)
             |      AS q_mc
             |  FROM ev GROUP BY event_type),
             |scored AS (
             |  SELECT n, pim.q_mc AS q_pi_mc,
             |    CASE WHEN m.p_ppm > 0 AND ev.event_type =
             |      CASE WHEN user_id % 2 = 0 THEN 'purchase' ELSE 'view' END
             |    THEN (r * 1000 - m.q_mc) * 1000000 // m.p_ppm
             |    ELSE 0 END AS corr_mc
             |  FROM ev
             |  JOIN model m ON ev.event_type = m.event_type
             |  JOIN model pim ON pim.event_type =
             |    CASE WHEN user_id % 2 = 0 THEN 'purchase' ELSE 'view' END
             |  CROSS JOIN tot)
             |SELECT n,
             |  CASE WHEN n > 0 THEN
             |    ROUND(CAST(SUM(q_pi_mc) AS DOUBLE) / n / 1000, 4)
             |  END AS dm_value_cents,
             |  CASE WHEN n > 0 THEN
             |    ROUND((CAST(SUM(q_pi_mc) AS DOUBLE)
             |      + CAST(SUM(corr_mc) AS DOUBLE) / 1000000) / n / 1000, 4)
             |  END AS dr_value_cents
             |FROM scored GROUP BY n""".stripMargin)),

    // Doubly-robust evaluation with a COVARIATE-AWARE reward model (r16
    // verdict task 7): q_dr_eval's q̂ is a flat per-action mean, which
    // concedes DR's whole point — the direct-method term should absorb
    // context. Users are binned into activity deciles from one pass
    // (event count per user, ranked by the distributed Rank primitive —
    // never a single-partition window — decile = (rank-1)*10 div
    // n_users), and q̂ / the behavior propensity are fitted per
    // (action, decile): ~50 exact-integer-millicent rows, still one
    // broadcast frame. A decile lacking the target action contributes
    // q̂ = 0 (LEFT join + coalesce, identical on both engines —
    // disclosed, the standard unknown-context convention). The FLAT
    // model's DM/DR ride along so the output shows the gap the
    // covariate model buys. Shape: one user_id shuffle to attach
    // deciles, one corpus pass, O(1)-row output.
    QueryDef("q_dr_eval_binned",
      (spark, sf) => {
        val ev = load(spark, sf, "events")
          .select(col("user_id"), col("event_type"),
            cents(col("value")).as("r"))
        val users = ev.groupBy(col("user_id")).agg(count(lit(1)).as("activity"))
        val (rankedU, nu) = graft.ops.Rank.rankGlobalWithCount(
          users, Seq(col("activity"), col("user_id")), "rn")
        val deciled = rankedU.select(col("user_id"),
          expr(s"(rn - 1) * 10 div $nu").as("dec"))
        val evd = ev.join(deciled, Seq("user_id"))
        val tot = ev.agg(count(lit(1)).as("n"))
        // binned model: q̂ and propensity per (action, decile)
        val byTd = evd.groupBy(col("event_type"), col("dec"))
          .agg(count(lit(1)).as("cnt"), sum(col("r")).as("sr"))
        val byD = byTd.groupBy(col("dec")).agg(sum(col("cnt")).as("cnt_d"))
        val model = byTd.join(byD, Seq("dec"))
          .select(col("event_type"), col("dec"),
            expr("cnt * 1000000 div cnt_d").as("p_ppm"),
            expr("sr * 1000 div cnt").as("q_mc"))
        // flat model (the q_dr_eval baseline, riding along for the gap)
        val flat = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("fcnt"), sum(col("r")).as("fsr"))
          .crossJoin(broadcast(tot))
          .select(col("event_type"),
            expr("fcnt * 1000000 div n").as("fp_ppm"),
            expr("fsr * 1000 div fcnt").as("fq_mc"))
        val pi = expr(
          "CASE WHEN user_id % 2 = 0 THEN 'purchase' ELSE 'view' END")
        val scored = evd.withColumn("pi_a", pi)
          .join(broadcast(model), Seq("event_type", "dec"))
          .join(broadcast(model.select(col("event_type").as("pi_a"),
            col("dec"), col("q_mc").as("q_pi_mc"))), Seq("pi_a", "dec"), "left")
          .join(broadcast(flat), Seq("event_type"))
          .join(broadcast(flat.select(col("event_type").as("pi_a"),
            col("fq_mc").as("fq_pi_mc")).drop("fp_ppm")), Seq("pi_a"))
          .crossJoin(broadcast(tot))
          .select(col("n"),
            coalesce(col("q_pi_mc"), lit(0L)).as("q_pi_mc"),
            col("fq_pi_mc"),
            when(col("p_ppm") > 0 && col("event_type") === col("pi_a"),
              expr("(r * 1000 - q_mc) * 1000000 div p_ppm"))
              .otherwise(0L).as("corr_mc"),
            when(col("fp_ppm") > 0 && col("event_type") === col("pi_a"),
              expr("(r * 1000 - fq_mc) * 1000000 div fp_ppm"))
              .otherwise(0L).as("fcorr_mc"))
        scored.groupBy(col("n")).agg(
            sum(col("q_pi_mc")).as("sdm"), sum(col("corr_mc")).as("scorr"),
            sum(col("fq_pi_mc")).as("fsdm"), sum(col("fcorr_mc")).as("fscorr"))
          .select(col("n"),
            when(col("n") > 0, round(expr(
              "CAST(sdm AS DOUBLE) / n / 1000"), 4)).as("dm_binned_cents"),
            when(col("n") > 0, round(expr(
              "(CAST(sdm AS DOUBLE) + CAST(scorr AS DOUBLE) / 1000000) / n / 1000"), 4))
              .as("dr_binned_cents"),
            when(col("n") > 0, round(expr(
              "CAST(fsdm AS DOUBLE) / n / 1000"), 4)).as("dm_flat_cents"),
            when(col("n") > 0, round(expr(
              "(CAST(fsdm AS DOUBLE) + CAST(fscorr AS DOUBLE) / 1000000) / n / 1000"), 4))
              .as("dr_flat_cents"),
            when(col("n") > 0, round(expr(
              "CAST(sdm - fsdm AS DOUBLE) / n / 1000"), 4)).as("dm_gap_cents"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type,
             |    CAST(ROUND(value*100) AS BIGINT) AS r
             |  FROM events),
             |users AS (
             |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS activity
             |  FROM ev GROUP BY 1),
             |nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM users),
             |deciled AS (
             |  SELECT user_id,
             |    (ROW_NUMBER() OVER (ORDER BY activity, user_id) - 1) * 10
             |      // (SELECT nu FROM nu) AS dec
             |  FROM users),
             |evd AS (SELECT ev.*, dec FROM ev JOIN deciled USING (user_id)),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev),
             |btd AS (
             |  SELECT event_type, dec, CAST(COUNT(*) AS BIGINT) AS cnt,
             |    CAST(SUM(r) AS BIGINT) AS sr
             |  FROM evd GROUP BY 1, 2),
             |bd AS (SELECT dec, CAST(SUM(cnt) AS BIGINT) AS cnt_d
             |  FROM btd GROUP BY 1),
             |model AS (
             |  SELECT event_type, dec, cnt * 1000000 // cnt_d AS p_ppm,
             |    sr * 1000 // cnt AS q_mc
             |  FROM btd JOIN bd USING (dec)),
             |flat AS (
             |  SELECT event_type,
             |    CAST(COUNT(*) AS BIGINT) * 1000000 // (SELECT n FROM tot)
             |      AS fp_ppm,
             |    CAST(SUM(r) AS BIGINT) * 1000 // CAST(COUNT(*) AS BIGINT)
             |      AS fq_mc
             |  FROM ev GROUP BY event_type),
             |scored AS (
             |  SELECT n,
             |    COALESCE(pim.q_mc, 0) AS q_pi_mc,
             |    fpim.fq_mc AS fq_pi_mc,
             |    CASE WHEN m.p_ppm > 0 AND evd.event_type = evd.pi_a
             |      THEN (r * 1000 - m.q_mc) * 1000000 // m.p_ppm
             |      ELSE 0 END AS corr_mc,
             |    CASE WHEN f.fp_ppm > 0 AND evd.event_type = evd.pi_a
             |      THEN (r * 1000 - f.fq_mc) * 1000000 // f.fp_ppm
             |      ELSE 0 END AS fcorr_mc
             |  FROM (SELECT *,
             |      CASE WHEN user_id % 2 = 0 THEN 'purchase' ELSE 'view' END
             |        AS pi_a
             |    FROM evd) evd
             |  JOIN model m ON evd.event_type = m.event_type AND evd.dec = m.dec
             |  LEFT JOIN model pim ON pim.event_type = evd.pi_a AND pim.dec = evd.dec
             |  JOIN flat f ON evd.event_type = f.event_type
             |  JOIN flat fpim ON fpim.event_type = evd.pi_a
             |  CROSS JOIN tot)
             |SELECT n,
             |  CASE WHEN n > 0 THEN
             |    ROUND(CAST(SUM(q_pi_mc) AS DOUBLE) / n / 1000, 4)
             |  END AS dm_binned_cents,
             |  CASE WHEN n > 0 THEN
             |    ROUND((CAST(SUM(q_pi_mc) AS DOUBLE)
             |      + CAST(SUM(corr_mc) AS DOUBLE) / 1000000) / n / 1000, 4)
             |  END AS dr_binned_cents,
             |  CASE WHEN n > 0 THEN
             |    ROUND(CAST(SUM(fq_pi_mc) AS DOUBLE) / n / 1000, 4)
             |  END AS dm_flat_cents,
             |  CASE WHEN n > 0 THEN
             |    ROUND((CAST(SUM(fq_pi_mc) AS DOUBLE)
             |      + CAST(SUM(fcorr_mc) AS DOUBLE) / 1000000) / n / 1000, 4)
             |  END AS dr_flat_cents,
             |  CASE WHEN n > 0 THEN
             |    ROUND(CAST(SUM(q_pi_mc) - SUM(fq_pi_mc) AS DOUBLE) / n / 1000, 4)
             |  END AS dm_gap_cents
             |FROM scored GROUP BY n""".stripMargin)),

    // Growth accounting — the daily active-user LEDGER next to
    // q_cohort_retention's matrix view: every (user, day) activity is
    // classified as NEW (first-ever day), RETAINED (also active the
    // previous day), or RESURRECTED (returning across a gap), and a
    // CHURN is booked the day after an activity day with no next-day
    // return — so actives(d) = new + retained + resurrected holds as
    // an exact identity (the invariant test states it), and the quick
    // ratio (new + resurrected) / churned reads off per day. Pure
    // user-keyed lag/lead windows on epoch-day integers (user-
    // partitioned — never single-partition), one distinct shuffle.
    // Churn days past the observation horizon are dropped for a
    // closed ledger (disclosed).
    QueryDef("q_growth_accounting",
      (spark, sf) => growthLedger(
        load(spark, sf, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .distinct()),
      Some(Shared.GrowthOracle)),
  )
}
