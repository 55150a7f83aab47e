package perfbench

import graft.cli.MigrateCli
import graft.drivers.{DestinationDriver, SourceDriver}
import graft.exec.{Migration, MigrationResult, TransformContext}
import graft.spec.{IdField, LongId, MigrationSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Seeded source tables of the 3-migration DAG
  * `accounts → orders → order_lines`. Keys are a seeded permutation of
  * the row numbers, so source-key order is not file order; every foreign
  * key points at an existing parent row.
  */
object MigrateData {
  val Tables = Seq("accounts", "orders", "order_lines")
  private val Prime = 2147483647L

  final case class Sizes(accounts: Long, orders: Long, lines: Long) {
    def total: Long = accounts + orders + lines
    def of(t: String): Long = t match {
      case "accounts" => accounts
      case "orders" => orders
      case "order_lines" => lines
    }
  }

  def sizes(scale: Double): Sizes =
    Sizes(math.max(20L, (12000 * scale).toLong), math.max(60L, (72000 * scale).toLong),
      math.max(200L, (240000 * scale).toLong))

  private def key(id: Column, seed: Long, mult: Long): Column =
    pmod(id * lit(mult) + lit(seed % 1000003L), lit(Prime))
  private def h(seed: Long, salt: String, c: Column): Column =
    xxhash64(lit(seed), lit(salt), c)
  private def pick(xs: Seq[String], hash: Column): Column =
    element_at(array(xs.map(lit): _*), (pmod(hash, lit(xs.size.toLong)) + 1).cast("int"))

  def accountKey(id: Column, seed: Long): Column = key(id, seed, 48271L)
  def orderKey(id: Column, seed: Long): Column = key(id, seed, 69621L)
  def lineKey(id: Column, seed: Long): Column = key(id, seed, 16807L)

  def base(spark: SparkSession, seed: Long, s: Sizes, table: String): DataFrame = {
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    val id = col("id")
    table match {
      case "accounts" => spark.range(0, s.accounts, 1, parts).select(
        accountKey(id, seed).as("acct_key"),
        concat(lit("acct-"), hex(pmod(h(seed, "name", id), lit(1L << 40)))).as("name"),
        pick(Seq("north", "south", "east", "west", "central", "coast", "hills", "plain"),
          h(seed, "region", id)).as("region"),
        pmod(h(seed, "balance", id), lit(10000000L)).as("balance_cents"))
      case "orders" => spark.range(0, s.orders, 1, parts).select(
        orderKey(id, seed).as("order_key"),
        accountKey(pmod(h(seed, "acct", id), lit(s.accounts)), seed).as("acct_key"),
        pick(Seq("open", "paid", "shipped", "returned"), h(seed, "status", id)).as("status"),
        pmod(h(seed, "total", id), lit(1000000L)).as("total_cents"))
      case "order_lines" => spark.range(0, s.lines, 1, parts).select(
        lineKey(id, seed).as("line_key"),
        orderKey(pmod(h(seed, "order", id), lit(s.orders)), seed).as("order_key"),
        pmod(h(seed, "sku", id), lit(5000L)).as("sku"),
        (pmod(h(seed, "qty", id), lit(9L)) + 1).as("qty"),
        (pmod(h(seed, "price", id), lit(99900L)) + 100).as("price_cents"))
    }
  }

  /** Writes `dir/<table>` for every table. */
  def generate(spark: SparkSession, seed: Long, s: Sizes, dir: String): Unit =
    Tables.foreach(t => base(spark, seed, s, t).write.mode("overwrite").parquet(s"$dir/$t"))
}

/** The DAG as user migrations: generated destination ids, and child
  * migrations resolving their parent's generated id through
  * `ctx.references.resolve`.
  */
object MigrateDag {
  private def spec(name: String, src: String, dst: String, srcId: String, dstId: String,
      deps: Seq[String]): MigrationSpec =
    MigrationSpec(name, source = src, sourceDriver = "parquet",
      destination = dst, destinationDriver = "parquet",
      sourceIds = Seq(IdField(srcId, LongId)), destinationIds = Seq(IdField(dstId, LongId)),
      depends = deps)

  private class Mig(val spec: MigrationSpec, f: (DataFrame, TransformContext) => DataFrame,
      tracer: Option[Tracer]) extends Migration {
    def transform(source: DataFrame, ctx: TransformContext): DataFrame = f(source, ctx)
    override def configureSource(d: SourceDriver): SourceDriver =
      tracer.fold(d)(t => new TracedSource(d, t))
    override def configureDestination(d: DestinationDriver): DestinationDriver =
      tracer.fold(d)(t => new TracedDest(d, t))
  }

  def migrations(srcDir: String, destDir: String, tracer: Option[Tracer]): Seq[Migration] = Seq(
    new Mig(spec("accounts", s"$srcDir/accounts", s"$destDir/accounts", "acct_key", "account_id", Nil),
      (src, _) => src.select(col("acct_key"), col("name"), col("region"), col("balance_cents")),
      tracer),
    new Mig(spec("orders", s"$srcDir/orders", s"$destDir/orders", "order_key", "order_id",
        Seq("accounts")),
      (src, ctx) => ctx.references
        .resolve(src, "accounts", Map("acct_key" -> "acct_key"), Seq("dest_account_id" -> "account_fk"))
        .select(col("order_key"), col("account_fk"), col("status"), col("total_cents")),
      tracer),
    new Mig(spec("order_lines", s"$srcDir/order_lines", s"$destDir/order_lines", "line_key", "line_id",
        Seq("orders")),
      (src, ctx) => ctx.references
        .resolve(src, "orders", Map("order_key" -> "order_key"), Seq("dest_order_id" -> "order_fk"))
        .select(col("line_key"), col("order_fk"), col("sku"), col("qty"), col("price_cents"),
          (col("qty") * col("price_cents")).as("amount_cents")),
      tracer))

  /** One `MigrateCli.run` of the DAG; returns its results and the wall
    * time of each migration, read from the CLI's own per-migration
    * progress line on stderr.
    */
  def run(spark: SparkSession, srcDir: String, destDir: String, mapDir: String,
      tracer: Option[Tracer]): (Map[String, MigrationResult], Seq[Double]) = {
    val t0 = System.nanoTime()
    val marks = StderrMarks.during("[a2b-spark] ") {
      MigrateCli.run(spark, MigrateCli.Args(mappingDir = mapDir),
        loaded = migrations(srcDir, destDir, tracer))
    }
    val (results, stamps) = marks
    val ends = stamps.filter(_._2.contains(" migrated=")).map(_._1)
    val walls = (t0 +: ends).zip(ends).map { case (a, b) => (b - a) / 1e9 }
    (results, walls)
  }

  /** The expected destination state, in plain Spark SQL over the source
    * files: ids dense in source-key order, every source row, and foreign
    * keys through the parents' expected ids.
    */
  def expected(spark: SparkSession, inDir: String): Map[String, DataFrame] = {
    def src(t: String) = s"`parquet`.`$inDir/$t`"
    def ids(t: String, k: String, id: String) =
      s"SELECT $k, ROW_NUMBER() OVER (ORDER BY $k) AS $id FROM ${src(t)}"
    Map(
      "accounts" -> spark.sql(
        s"""SELECT i.account_id, c.name, c.region, c.balance_cents
           |FROM ${src("accounts")} c
           |JOIN (${ids("accounts", "acct_key", "account_id")}) i USING (acct_key)""".stripMargin),
      "orders" -> spark.sql(
        s"""SELECT i.order_id, a.account_id AS account_fk, c.status, c.total_cents
           |FROM ${src("orders")} c
           |JOIN (${ids("orders", "order_key", "order_id")}) i USING (order_key)
           |JOIN (${ids("accounts", "acct_key", "account_id")}) a USING (acct_key)""".stripMargin),
      "order_lines" -> spark.sql(
        s"""SELECT i.line_id, o.order_id AS order_fk, c.sku, c.qty, c.price_cents,
           |  c.qty * c.price_cents AS amount_cents
           |FROM ${src("order_lines")} c
           |JOIN (${ids("order_lines", "line_key", "line_id")}) i USING (line_key)
           |JOIN (${ids("orders", "order_key", "order_id")}) o USING (order_key)""".stripMargin))
  }

  /** The published destination table: the generation `_CURRENT` names. */
  def published(spark: SparkSession, destDir: String, table: String): DataFrame = {
    val gen = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$destDir/$table/_CURRENT")), "UTF-8").trim
    spark.read.parquet(s"$destDir/$table/$gen")
  }

  /** Mismatches between the published state and `expected` (empty =
    * ok): column sets, then row multisets through a count and a sum of
    * 64-bit row hashes (expected columns cast to the published types),
    * all tables in one query.
    */
  def compare(spark: SparkSession, destDir: String,
      expected: Map[String, DataFrame]): Seq[String] = {
    val pairs = MigrateData.Tables.map(t => (t, expected(t), published(spark, destDir, t)))
    val colErrors = pairs.collect { case (t, exp, got) if got.columns.sorted.toSeq != exp.columns.sorted.toSeq =>
      s"$t: columns ${got.columns.sorted.mkString(",")} != ${exp.columns.sorted.mkString(",")}"
    }
    if (colErrors.nonEmpty) colErrors
    else {
      val prints = pairs.flatMap { case (t, exp, got) =>
        val cols = exp.columns.sorted.toSeq.map(c => col(c).cast(got.schema(c).dataType))
        Seq("expected" -> exp, "published" -> got).map { case (side, df) =>
          df.agg(count(lit(1)).as("rows"), sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("hash"))
            .select(lit(t).as("table"), lit(side).as("side"), col("rows"), col("hash"))
        }
      }.reduce(_ unionByName _).collect()
      prints.groupBy(_.getString(0)).toSeq.sortBy(_._1).flatMap { case (t, rows) =>
        val bySide = rows.map(r => r.getString(1) -> (r.getLong(2), r.getDecimal(3))).toMap
        if (bySide("expected") == bySide("published")) Nil
        else Seq(s"$t: published rows differ from the expected state " +
          s"(${bySide("published")._1} published, ${bySide("expected")._1} expected)")
      }
    }
  }

}

/** Captures the time at which lines with a given prefix reach stderr
  * while `body` runs (the CLI's per-migration progress lines).
  */
object StderrMarks {
  def during[T](prefix: String)(body: => T): (T, Seq[(Long, String)]) = {
    val orig = System.err
    val marks = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val line = new StringBuilder
    val tee = new java.io.OutputStream {
      override def write(b: Int): Unit = synchronized {
        orig.write(b)
        if (b == '\n') {
          val s = line.toString
          if (s.startsWith(prefix)) marks.synchronized { marks += ((System.nanoTime(), s)) }
          line.clear()
        } else line += b.toChar
      }
    }
    System.setErr(new java.io.PrintStream(tee, true))
    try (body, marks.synchronized(marks.toSeq))
    finally { System.err.flush(); System.setErr(orig) }
  }
}

/** `migrate_initial`: the first load of the DAG into empty parquet
  * destinations and an empty mapping dir, each op into fresh
  * directories. One untimed load first warms the load's plan shapes and
  * the JIT: the first load in a JVM runs ~2× the steady state and varies
  * the most. The next loads still speed up a little, so every run times
  * three and reports their median.
  */
final class MigrateInitial(spark: SparkSession, cfg: Config) extends Workload {
  private val sizes = MigrateData.sizes(cfg.scale)
  private var inDir = ""
  private var opDir = ""

  def setup(i: Int): Unit = {
    inDir = s"${cfg.work}/in$i"
    MigrateData.generate(spark, cfg.seed, sizes, inDir)
  }

  override def warmUp(): Unit =
    MigrateDag.run(spark, inDir, s"${cfg.work}/warmup/dest", s"${cfg.work}/warmup/map", None)

  override def minOps: Int = 3

  def rootLayer: String = "exec"
  def pathLayers: Seq[(String, String)] = Seq(s"$opDir/map/" -> "mapper", s"$opDir/dest/" -> "drivers")
  def writeDirs: Seq[String] = Seq(s"${cfg.work}/ops")

  def op(i: Int, tracer: Option[Tracer]): OpStats = {
    opDir = s"${cfg.work}/ops/op$i"
    val ((results, walls), wall) =
      Util.timed(MigrateDag.run(spark, inDir, s"$opDir/dest", s"$opDir/map", tracer))
    val failures = MigrateData.Tables.flatMap { t =>
      val r = results(t)
      if (r.migrated != sizes.of(t) || r.orphanCount != 0)
        Seq(s"op $i $t: migrated=${r.migrated} orphans=${r.orphanCount}, expected ${sizes.of(t)} and 0")
      else Nil
    }
    OpStats(wall, sizes.total, walls, walls.last, failures,
      Map("exec.orphans" -> results.values.map(_.orphanCount).sum.toDouble))
  }

  override def readBack(i: Int): Map[String, Double] =
    Map("drivers.files_written" -> Util.du(new java.io.File(s"${cfg.work}/ops/op$i/dest"))._2.toDouble)

  def check(): Seq[String] =
    MigrateDag.compare(spark, s"$opDir/dest", MigrateDag.expected(spark, inDir))

  def describe: Map[String, Any] = Map("seed" -> cfg.seed,
    "rows" -> Map("accounts" -> sizes.accounts, "orders" -> sizes.orders, "order_lines" -> sizes.lines),
    "input_mb" -> Util.duMb(Seq(inDir)))
}
