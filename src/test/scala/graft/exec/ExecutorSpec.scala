package graft.exec

import graft.SparkSpec
import graft.drivers._
import graft.mapper.MappingStore
import graft.spec._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

class ExecutorSpec extends SparkSpec {

  private def fixture(policy: OrphanPolicy = KeepOrphans) = {
    val base = scratchDir("exec")
    val mapper = new MappingStore(s"$base/map")
    val refs = new ReferenceStore(mapper)
    (base, mapper, refs, new MigrationExecutor(mapper, refs, policy))
  }

  private def inlineSource(f: SparkSession => DataFrame): SourceDriver = new SourceDriver {
    def read(s: SparkSession, sp: MigrationSpec): DataFrame = f(s)
  }

  private def mkSpec(base: String, name: String = "m") = MigrationSpec(name,
    source = "", sourceDriver = "inline", destination = s"$base/$name",
    destinationDriver = "parquet", sourceIds = Seq(IdField("src_id")),
    destinationIds = Seq(IdField("id")))

  private def natural(sp: MigrationSpec): Migration = new Migration {
    def spec: MigrationSpec = sp
    def transform(src: DataFrame, ctx: TransformContext): DataFrame =
      src.select(col("src_id"), col("src_id").as("id"), upper(col("v")).as("v"))
  }

  /** [[natural]], with a transform that counts its per-row evaluations. */
  private def counted(sp: MigrationSpec, evals: org.apache.spark.util.LongAccumulator): Migration =
    new Migration {
      def spec: MigrationSpec = sp
      def transform(src: DataFrame, ctx: TransformContext): DataFrame = {
        val tick = udf { (v: String) => evals.add(1L); v.toUpperCase }
        src.select(col("src_id"), col("src_id").as("id"), tick(col("v")).as("v"))
      }
    }

  test("execute over an existing snapshot evaluates the transform once per incoming row") {
    val (base, _, _, exec) = fixture()
    val sp = mkSpec(base)
    val dest = new ParquetDestinationDriver
    val evals = spark.sparkContext.longAccumulator("execute_evals")
    exec.execute(spark, counted(sp, evals), inlineSource(s => {
      import s.implicits._
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("src_id", "v")
    }), dest)
    evals.reset()
    // update run: one changed row, one kept, one new, one orphan
    val r = exec.execute(spark, counted(sp, evals), inlineSource(s => {
      import s.implicits._
      Seq((1L, "a2"), (2L, "b"), (4L, "d")).toDF("src_id", "v")
    }), dest)
    assert(r.migrated == 3 && r.orphanCount == 1)
    assert(evals.value == 3L, s"transform evaluated ${evals.value} times for 3 incoming rows")
    assert(dest.snapshot(spark, sp).get.count() == 4, "orphan kept, new row inserted")
    exec.release()
  }

  test("executeDelta evaluates the transform once per incoming row") {
    val (base, mapper, _, exec) = fixture(IgnoreOrphans)
    val sp = mkSpec(base)
    val dest = new ParquetDestinationDriver
    val evals = spark.sparkContext.longAccumulator("delta_evals")
    Seq(Seq((1L, "a"), (2L, "b")), Seq((2L, "b2"), (3L, "c"), (4L, "d"))).foreach { rows =>
      evals.reset()
      val r = exec.executeDelta(spark, counted(sp, evals), inlineSource(s => {
        import s.implicits._
        rows.toDF("src_id", "v")
      }), dest)
      assert(r.migrated == rows.size)
      assert(evals.value == rows.size.toLong,
        s"transform evaluated ${evals.value} times for ${rows.size} incoming rows")
    }
    assert(dest.morSnapshot(spark, sp).get.count() == 4 && mapper.load(spark, sp).get.count() == 4)
    exec.release()
  }

  test("incremental curation commits in DAG order, each stage's mapping before its data") {
    val base = scratchDir("exec_lane")
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val mapper = new MappingStore(s"$base/map")
    val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Boolean)]()
    val inner = new ParquetDestinationDriver
    // logs every data write (stage, call), with whether the stage's
    // mapping already held every key being written when it was called
    val logging = new DeltaDestination {
      private def logged[T](call: String, df: DataFrame, sp: MigrationSpec)(write: => T): T = {
        val mapped = mapper.load(spark, sp).exists(m =>
          df.select(col("did")).except(m.select(col("dest_did"))).isEmpty)
        log.add((sp.name, call, mapped))
        write
      }
      def snapshot(s: SparkSession, sp: MigrationSpec) = inner.snapshot(s, sp)
      def write(df: DataFrame, sp: MigrationSpec): Unit = logged("write", df, sp)(inner.write(df, sp))
      def appendDelta(df: DataFrame, sp: MigrationSpec): Long =
        logged("append", df, sp)(inner.appendDelta(df, sp))
      def morSnapshot(s: SparkSession, sp: MigrationSpec) = inner.morSnapshot(s, sp)
      override def overwriteIsReadSafe: Boolean = inner.overwriteIsReadSafe
      override def snapshotIsStableAcrossWrites: Boolean = inner.snapshotIsStableAcrossWrites
    }
    val perDoc = CurationPipeline.StageNames.init
    Seq(0L, 1L).foreach { b =>
      docs.filter(col("doc_id") % 2 === b).write.parquet(s"$base/landed/batch_$b")
      log.clear()
      graft.streaming.StreamingCuration.runDagIncremental(spark, base, b, dests = _ => logging)
      // batch 0 publishes every stage's base generation; batch 1 appends
      val call = if (b == 0L) "write" else "append"
      import scala.jdk.CollectionConverters._
      val got = log.asScala.toSeq
      assert(got.map(e => (e._1, e._2)) == perDoc.map(_ -> call) :+ ("llm_mix" -> "write"),
        s"batch $b: data writes out of DAG order: $got")
      assert(got.filter(e => perDoc.contains(e._1)).forall(_._3),
        s"batch $b: a stage's data was written before its mapping: $got")
    }
  }

  test("re-running the same migration is idempotent (upsert, not duplicate)") {
    import spark.implicits._
    val (base, mapper, _, exec) = fixture()
    val sp = mkSpec(base)
    val dest = new ParquetDestinationDriver
    val src = inlineSource(s => {
      import s.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("src_id", "v")
    })
    val r1 = exec.execute(spark, natural(sp), src, dest)
    val r2 = exec.execute(spark, natural(sp), src, dest)
    assert(r1.migrated == 2 && r2.migrated == 2)
    val snap = dest.snapshot(spark, sp).get
    assert(snap.count() == 2, "no duplicates after re-run")
    val mapping = mapper.load(spark, sp).get
    assert(mapping.count() == 2, "mapping rows upserted, not appended")
    assert(mapping.filter(col("status") === "migrated").count() == 2)
  }

  test("second run sees updates; orphans detected, kept under KeepOrphans") {
    import spark.implicits._
    val (base, mapper, _, exec) = fixture()
    val sp = mkSpec(base)
    val dest = new ParquetDestinationDriver
    exec.execute(spark, natural(sp), inlineSource(s => {
      import s.implicits._
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("src_id", "v")
    }), dest)
    // row 3 disappears from the source; row 1 changes
    val r2 = exec.execute(spark, natural(sp), inlineSource(s => {
      import s.implicits._
      Seq((1L, "a2"), (2L, "b")).toDF("src_id", "v")
    }), dest)
    assert(r2.orphanCount == 1)
    assert(r2.orphans.select("id").head().getLong(0) == 3L)
    val snap = dest.snapshot(spark, sp).get.orderBy("id").collect()
    assert(snap.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), "orphan kept")
    assert(snap(0).getString(1) == "A2", "update applied")
    // kept orphan recorded with null source ids
    val nullSrc = mapper.load(spark, sp).get
      .filter(col("source_src_id").isNull)
    assert(nullSrc.count() == 1 && nullSrc.head().getAs[Long]("dest_id") == 3L)
  }

  test("PruneOrphans drops vanished rows from the final snapshot") {
    import spark.implicits._
    val (base, _, _, exec) = fixture(PruneOrphans)
    val sp = mkSpec(base)
    val dest = new ParquetDestinationDriver
    exec.execute(spark, natural(sp), inlineSource(s => {
      import s.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("src_id", "v")
    }), dest)
    exec.execute(spark, natural(sp), inlineSource(s => {
      import s.implicits._
      Seq((1L, "a")).toDF("src_id", "v")
    }), dest)
    assert(dest.snapshot(spark, sp).get.count() == 1)
  }

  test("CSV update run with orphans: snapshot-derived plans survive the swap write") {
    // Regression: the CSV commit deletes the files backing the pre-write
    // snapshot; orphans/mapping plans evaluated after the write used to
    // throw FileNotFoundException (or silently lose kept orphans). The
    // executor now checkpoints snapshot-derived plans before writing to
    // any sink without stable snapshots.
    import spark.implicits._
    val (base, mapper, _, exec) = fixture()
    val sp = MigrationSpec("csvm", source = "", sourceDriver = "inline",
      destination = s"$base/csvm", destinationDriver = "csv",
      sourceIds = Seq(IdField("src_id", StringId)),
      destinationIds = Seq(IdField("id", StringId)))
    val dest = new CsvDestinationDriver
    val mig = new Migration {
      def spec: MigrationSpec = sp
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        src.select(col("src_id"), col("src_id").as("id"), upper(col("v")).as("v"))
    }
    exec.execute(spark, mig, inlineSource(s => {
      import s.implicits._
      Seq(("1", "a"), ("2", "b"), ("3", "c")).toDF("src_id", "v")
    }), dest)
    val r2 = exec.execute(spark, mig, inlineSource(s => {
      import s.implicits._
      Seq(("1", "a2"), ("2", "b")).toDF("src_id", "v")
    }), dest)
    assert(r2.orphanCount == 1, "orphan must be computed against the PRE-write snapshot")
    assert(r2.orphans.select("id").head().getString(0) == "3")
    val snap = dest.snapshot(spark, sp).get.orderBy("id").collect()
    assert(snap.map(_.getString(0)).toSeq == Seq("1", "2", "3"), "orphan kept through swap")
    assert(snap(0).getAs[String]("v") == "A2", "update applied")
    assert(mapper.load(spark, sp).get.filter(col("source_src_id").isNull).count() == 1)
  }

  test("JSON sink update run with orphans: same barrier guarantees as CSV") {
    import spark.implicits._
    val (base, _, _, exec) = fixture()
    val sp = MigrationSpec("jsonm", source = "", sourceDriver = "inline",
      destination = s"$base/jsonm", destinationDriver = "json",
      sourceIds = Seq(IdField("src_id")), destinationIds = Seq(IdField("id")))
    val dest = new JsonDestinationDriver
    val mig = new Migration {
      def spec: MigrationSpec = sp
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        src.select(col("src_id"), col("src_id").as("id"), upper(col("v")).as("v"))
    }
    exec.execute(spark, mig, inlineSource(s => {
      import s.implicits._
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("src_id", "v")
    }), dest)
    val r2 = exec.execute(spark, mig, inlineSource(s => {
      import s.implicits._
      Seq((1L, "a2"), (2L, "b")).toDF("src_id", "v")
    }), dest)
    assert(r2.orphanCount == 1)
    val snap = dest.snapshot(spark, sp).get.orderBy("id").collect()
    assert(snap.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L, 3L), "orphan kept through swap")
    assert(snap(0).getAs[String]("v") == "A2", "update applied")
  }

  test("JDBC truncate-overwrite prune run: orphans counted before the table is rewritten") {
    // Regression: with an in-place JDBC overwrite, a lazy orphan plan
    // evaluated post-write re-reads the rewritten table → orphanCount=0
    // under PruneOrphans and nothing pruned.
    import spark.implicits._
    val (base, _, _, exec) = fixture(PruneOrphans)
    val db = scratchDir("derby_ovr") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver",
      "createTableColumnTypes" -> "v VARCHAR(64)")
    val sp = MigrationSpec("jm", source = "", sourceDriver = "inline",
      destination = url, destinationDriver = "jdbc",
      sourceIds = Seq(IdField("src_id")), destinationIds = Seq(IdField("id")))
    val dest = new JdbcDestinationDriver("ovr_t", props)
    val mig = new Migration {
      def spec: MigrationSpec = sp
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        src.select(col("src_id"), col("src_id").as("id"), col("v"))
    }
    exec.execute(spark, mig, inlineSource(s => {
      import s.implicits._
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("src_id", "v")
    }), dest)
    val r2 = exec.execute(spark, mig, inlineSource(s => {
      import s.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("src_id", "v")
    }), dest)
    assert(r2.orphanCount == 1, "orphan seen against the pre-overwrite table")
    assert(dest.snapshot(spark, sp).get.count() == 2, "orphan pruned from rewrite")
  }

  test("chunked execution over a CSV sink: pre-run snapshot stays stable across chunk swaps") {
    import spark.implicits._
    val (base, _, _, exec) = fixture()
    val sp = MigrationSpec("csvc", source = "", sourceDriver = "inline",
      destination = s"$base/csvc", destinationDriver = "csv",
      sourceIds = Seq(IdField("src_id", StringId)),
      destinationIds = Seq(IdField("id", StringId)))
    val dest = new CsvDestinationDriver
    val mig = new Migration {
      def spec: MigrationSpec = sp
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        src.select(col("src_id"), col("src_id").as("id"), col("v"))
    }
    exec.execute(spark, mig, inlineSource(s => {
      import s.implicits._
      Seq(("1", "a"), ("9", "orphan")).toDF("src_id", "v")
    }), dest)
    // chunked re-run without row 9: every chunk write swaps the CSV dir,
    // yet the final orphan pass must still see the pre-run snapshot
    val r = exec.executeChunked(spark, mig, inlineSource(s => {
      import s.implicits._
      Seq(("1", "a2"), ("2", "b"), ("3", "c"), ("4", "d")).toDF("src_id", "v")
    }), dest, numChunks = 2)
    assert(r.migrated == 4)
    assert(r.orphanCount == 1)
    assert(r.orphans.select("id").head().getString(0) == "9")
    assertThrows[IllegalArgumentException](
      exec.executeChunked(spark, mig, inlineSource(s => {
        import s.implicits._
        Seq(("1", "x")).toDF("src_id", "v")
      }), dest, numChunks = 0))
  }

  test("row-skip: transform filtering drops rows (null-transform parity)") {
    import spark.implicits._
    val (base, _, _, exec) = fixture()
    val sp = mkSpec(base)
    val dest = new ParquetDestinationDriver
    val skipping = new Migration {
      def spec: MigrationSpec = sp
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        src.filter(col("src_id") =!= 2L)
          .select(col("src_id"), col("src_id").as("id"), col("v"))
    }
    val r = exec.execute(spark, skipping, inlineSource(s => {
      import s.implicits._
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("src_id", "v")
    }), dest)
    assert(r.migrated == 2)
    assert(dest.snapshot(spark, sp).get.count() == 2)
  }

  test("generated destination ids: max(existing) + dense row_number, stable on re-run") {
    import spark.implicits._
    val (base, mapper, _, exec) = fixture()
    val sp = mkSpec(base)
    val dest = new ParquetDestinationDriver
    val gen: Migration = new Migration {
      def spec: MigrationSpec = sp
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        src.select(col("src_id"), col("v")) // no dest id → executor assigns
    }
    exec.execute(spark, gen, inlineSource(s => {
      import s.implicits._
      Seq((10L, "a"), (20L, "b")).toDF("src_id", "v")
    }), dest)
    val ids1 = dest.snapshot(spark, sp).get.orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(ids1 == Seq(1L, 2L))
    // re-run with one new row: existing rows keep their mapped ids
    exec.execute(spark, gen, inlineSource(s => {
      import s.implicits._
      Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("src_id", "v")
    }), dest)
    val m = mapper.load(spark, sp).get.orderBy("source_src_id").collect()
    assert(m.map(r => (r.getAs[Long]("source_src_id"), r.getAs[Long]("dest_id"))).toSeq ==
      Seq((10L, 1L), (20L, 2L), (30L, 3L)), "prior ids stable, new row appended")
  }

  test("currentFor exposes existing destination entity to transforms (update path)") {
    import spark.implicits._
    val (base, mapper, _, exec) = fixture()
    val sp = mkSpec(base)
    val dest = new ParquetDestinationDriver
    exec.execute(spark, natural(sp), inlineSource(s => {
      import s.implicits._
      Seq((1L, "a")).toDF("src_id", "v")
    }), dest)
    // transform that appends to the current value (needs dest read-back)
    val appending = new Migration {
      def spec: MigrationSpec = sp
      def transform(src: DataFrame, ctx: TransformContext): DataFrame = {
        val withIds = mapper.lookupDest(src, sp)
        ctx.currentFor(withIds)
          .select(col("src_id"), coalesce(col("dest_id"), col("src_id")).as("id"),
            concat(coalesce(col("v__current"), lit("")), upper(col("v"))).as("v"))
      }
    }
    exec.execute(spark, appending, inlineSource(s => {
      import s.implicits._
      Seq((1L, "b")).toDF("src_id", "v")
    }), dest)
    assert(dest.snapshot(spark, sp).get.head().getString(1) == "AB")
  }

  test("stubber: missing references stubbed ahead, real migration overwrites") {
    import spark.implicits._
    val (base, mapper, _, exec) = fixture()
    val sp = MigrationSpec("target", source = "", sourceDriver = "inline",
      destination = s"$base/target", destinationDriver = "parquet",
      sourceIds = Seq(IdField("src_id")), destinationIds = Seq(IdField("src_id")))
    val dest = new ParquetDestinationDriver(stubs = true)
    // migrate only id=1
    exec.execute(spark, new Migration {
      def spec: MigrationSpec = sp
      def transform(src: DataFrame, ctx: TransformContext): DataFrame = src
    }, inlineSource(s => {
      import s.implicits._
      Seq((1L, "real1")).toDF("src_id", "v")
    }), dest)
    // referring rows point at 1,2,3 → stubs for 2,3
    val stubber = new Stubber(mapper)
    val referring = Seq(1L, 2L, 3L, 3L).toDF("fk")
    val missing = stubber.missingKeys(referring, sp, Map("fk" -> "src_id"))
    assert(missing.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    val n = stubber.writeStubs(spark, sp, dest, missing, Map("v" -> "STUB"))
    assert(n == 2)
    val m = mapper.load(spark, sp).get
    assert(m.filter(col("status") === MappingStore.StatusStub).count() == 2)
    // the real migration of 2 and 3 later flips them to migrated
    exec.execute(spark, new Migration {
      def spec: MigrationSpec = sp
      def transform(src: DataFrame, ctx: TransformContext): DataFrame = src
    }, inlineSource(s => {
      import s.implicits._
      Seq((1L, "real1"), (2L, "real2"), (3L, "real3")).toDF("src_id", "v")
    }), dest)
    val after = mapper.load(spark, sp).get
    assert(after.filter(col("status") === MappingStore.StatusStub).count() == 0)
    val snap = dest.snapshot(spark, sp).get.orderBy("src_id").collect()
    assert(snap.map(_.getString(1)).toSeq == Seq("real1", "real2", "real3"))
  }

  test("stub write requires a stub-capable destination") {
    import spark.implicits._
    val (base, mapper, _, _) = fixture()
    val sp = mkSpec(base)
    val stubber = new Stubber(mapper)
    assertThrows[IllegalArgumentException](
      stubber.writeStubs(spark, sp, new ParquetDestinationDriver(stubs = false),
        Seq(1L).toDF("src_id"), Map.empty))
  }

  test("empty source on an update run: every destination row becomes an orphan") {
    import spark.implicits._
    val (base, _, _, exec) = fixture()
    val sp = mkSpec(base)
    val dest = new ParquetDestinationDriver
    exec.execute(spark, natural(sp), inlineSource(s => {
      import s.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("src_id", "v")
    }), dest)
    val r = exec.execute(spark, natural(sp), inlineSource(s => {
      import s.implicits._
      Seq.empty[(Long, String)].toDF("src_id", "v")
    }), dest)
    assert(r.migrated == 0 && r.orphanCount == 2)
    assert(dest.snapshot(spark, sp).get.count() == 2, "KeepOrphans retains them")
  }

  test("composite destination keys: upsert, mapping and orphans on two-column ids") {
    import spark.implicits._
    val (base, mapper, _, exec) = fixture()
    val sp = MigrationSpec("multi", source = "", sourceDriver = "inline",
      destination = s"$base/multi", destinationDriver = "parquet",
      sourceIds = Seq(IdField("g", StringId), IdField("n")),
      destinationIds = Seq(IdField("g", StringId), IdField("n")))
    val dest = new ParquetDestinationDriver
    val mig = new Migration {
      def spec: MigrationSpec = sp
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        src.select(col("g"), col("n"), upper(col("v")).as("v"))
    }
    exec.execute(spark, mig, inlineSource(s => {
      import s.implicits._
      Seq(("x", 1L, "a"), ("x", 2L, "b"), ("y", 1L, "c")).toDF("g", "n", "v")
    }), dest)
    val r2 = exec.execute(spark, mig, inlineSource(s => {
      import s.implicits._
      Seq(("x", 1L, "a2"), ("y", 1L, "c")).toDF("g", "n", "v")
    }), dest)
    assert(r2.orphanCount == 1)
    assert(r2.orphans.select("g", "n").head().toSeq == Seq("x", 2L))
    val snap = dest.snapshot(spark, sp).get.orderBy("g", "n").collect()
    assert(snap.map(_.toSeq).toSeq == Seq(
      Seq("x", 1L, "A2"), Seq("x", 2L, "B"), Seq("y", 1L, "C")))
    assert(mapper.load(spark, sp).get.count() == 3 + 1, "3 mapped + 1 kept-orphan row")
  }

  test("parallel executeAll: diamond DAG runs levels concurrently, same results as serial") {
    import spark.implicits._
    def mig(base: String, name: String, deps: Seq[String]): Migration = new Migration {
      def spec: MigrationSpec = MigrationSpec(name, source = "", sourceDriver = "inline",
        destination = s"$base/$name", destinationDriver = "parquet",
        sourceIds = Seq(IdField("src_id")), destinationIds = Seq(IdField("id")),
        depends = deps)
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        src.select(col("src_id"), col("src_id").as("id"),
          concat(lit(name), lit(":"), col("v")).as("v"))
    }
    def runAll(parallelism: Int): Map[String, Seq[(Long, String)]] = {
      val (base, _, _, exec) = fixture()
      // diamond: root -> (left, right) -> sink
      val ms = Seq(mig(base, "root", Nil), mig(base, "left", Seq("root")),
        mig(base, "right", Seq("root")), mig(base, "sink", Seq("left", "right")))
      val res = exec.executeAll(spark, ms,
        m => inlineSource(s => {
          import s.implicits._
          Seq((1L, "a"), (2L, "b")).toDF("src_id", "v")
        }),
        _ => new ParquetDestinationDriver, parallelism = parallelism)
      res.map { case (n, r) =>
        n -> r.finalSnapshot.orderBy("id").collect()
          .map(row => (row.getLong(0), row.getString(1))).toSeq
      }
    }
    val serial = runAll(1)
    val parallel = runAll(4)
    assert(parallel.keySet == Set("root", "left", "right", "sink"))
    assert(parallel == serial, "parallel levels must produce identical outputs")
  }

  test("reference store resolves via mapping ⋈ snapshot; unresolved → null") {
    import spark.implicits._
    val (base, _, refs, exec) = fixture()
    val sp = mkSpec(base, "ref_target")
    val dest = new ParquetDestinationDriver
    exec.execute(spark, new Migration {
      def spec: MigrationSpec = sp
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        src.select(col("src_id"), (col("src_id") + 100L).as("id"), col("v"))
    }, inlineSource(s => {
      import s.implicits._
      Seq((1L, "x"), (2L, "y")).toDF("src_id", "v")
    }), dest)
    refs.register(sp, dest)
    val referring = Seq((10L, 1L), (11L, 2L), (12L, 9L)).toDF("rid", "fk")
    val resolved = refs.resolve(referring, "ref_target",
      Map("fk" -> "src_id"), Seq("id" -> "target_id"))
      .orderBy("rid").collect()
    assert(resolved.map(r => Option(r.getAs[Any]("target_id"))).toSeq ==
      Seq(Some(101L), Some(102L), None))
  }

  test("mapping reverse lookup: dest ids back to source ids (getSourceIdsFromDestIds parity)") {
    import spark.implicits._
    val (base, mapper, _, exec) = fixture()
    val sp = mkSpec(base, "rev")
    exec.execute(spark, new Migration {
      def spec: MigrationSpec = sp
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        src.select(col("src_id"), (col("src_id") + 500L).as("id"), col("v"))
    }, inlineSource(s => {
      import s.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("src_id", "v")
    }), new ParquetDestinationDriver)
    // forward: src 1 -> dest 501; reverse must invert it, null for unmapped
    val back = mapper.lookupSource(
        Seq(501L, 502L, 999L).toDF("id"), sp)
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Any]("source_src_id"))).toMap
    assert(back == Map(501L -> Some(1L), 502L -> Some(2L), 999L -> None))
  }

  test("delta orphan reconcile: prune tombstones replay-idempotent; later upsert resurrects; compaction folds deletes") {
    import spark.implicits._
    val (base, _, _, exec) = fixture(PruneOrphans)
    val sp = mkSpec(base)
    val dest = new ParquetDestinationDriver
    val m = natural(sp)
    def deltaOf(rows: (Long, String)*): SourceDriver = inlineSource { s =>
      import s.implicits._; rows.toSeq.toDF("src_id", "v") }
    def ids(): Seq[Long] =
      dest.morSnapshot(spark, sp).get.select("id").as[Long].collect().sorted.toSeq
    exec.executeDelta(spark, m, deltaOf(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"), dest)
    exec.executeDelta(spark, m, deltaOf(3L -> "c2", 4L -> "d2"), dest)
    // retention horizon = the last batch's keys → 1, 2 are orphans
    val recent = Seq(3L, 4L).toDF("src_id")
    val r1 = exec.reconcileDeltaOrphans(spark, m, recent, dest)
    assert(r1.orphanCount == 2)
    assert(r1.orphans.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(ids() == Seq(3L, 4L), "pruned keys must leave the reconciled view")
    // REPLAY (crash between tombstone append and caller ack): the
    // duplicate reconcile finds nothing new and the view is unchanged
    val r2 = exec.reconcileDeltaOrphans(spark, m, recent, dest)
    assert(r2.orphanCount == 0)
    assert(ids() == Seq(3L, 4L))
    // a delta re-delivering a pruned key RESURRECTS it — segment order
    // is the truth (the kill/restart story: late retries stay safe)
    exec.executeDelta(spark, m, deltaOf(1L -> "a3"), dest)
    assert(ids() == Seq(1L, 3L, 4L))
    assert(dest.morSnapshot(spark, sp).get
      .filter(col("id") === 1).select("v").as[String].head() == "A3")
    // compaction folds tombstones into the next generation permanently
    dest.compactDeltas(spark, sp)
    assert(ids() == Seq(1L, 3L, 4L))
    exec.release()
  }

  test("repeated orphan-keep runs accumulate distinct orphan rows, never wipe earlier ones") {
    import spark.implicits._
    val (base, mapper, _, _) = fixture()
    val sp = mkSpec(base, "orph_acc")
    mapper.record(spark, sp,
      Seq((1L, 1L)).toDF("source_src_id", "dest_id"), MappingStore.StatusMigrated)
    mapper.recordOrphansKept(spark, sp, Seq(10L).toDF("dest_id"))
    mapper.recordOrphansKept(spark, sp, Seq(11L).toDF("dest_id"))
    // re-keeping an already-kept orphan replaces, not duplicates
    mapper.recordOrphansKept(spark, sp, Seq(10L).toDF("dest_id"))
    val rows = mapper.load(spark, sp).get
      .select(col("source_src_id"), col("dest_id")).collect()
      .map(r => Option(r.getAs[Any]("source_src_id")) -> r.getLong(1)).toSeq
    assert(rows.sortBy(_._2) == Seq(Some(1L) -> 1L, None -> 10L, None -> 11L),
      s"orphan bookkeeping must accumulate by dest id: $rows")
  }

  test("mapping conform: a spec-added id column widens in as a typed NULL") {
    import spark.implicits._
    val (base, mapper, _, _) = fixture()
    val sp1 = mkSpec(base, "conform_w")
    mapper.record(spark, sp1,
      Seq((1L, 1L), (2L, 2L)).toDF("source_src_id", "dest_id"),
      MappingStore.StatusMigrated)
    // user adds a second source id field between runs
    val sp2 = sp1.copy(sourceIds =
      Seq(IdField("src_id"), IdField("region", StringId)))
    val conformed = mapper.load(spark, sp2).get
    assert(conformed.schema("source_region").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(conformed.filter(col("source_region").isNull).count() == 2,
      "pre-widening rows carry NULL in the added column")
    // the next record() merges cleanly and durably widens the generation
    mapper.record(spark, sp2,
      Seq((3L, "emea", 3L)).toDF("source_src_id", "source_region", "dest_id"),
      MappingStore.StatusMigrated)
    val after = mapper.load(spark, sp2).get
    assert(after.count() == 3)
    assert(after.filter(col("source_region") === "emea").count() == 1)
  }

  test("mapping conform: an id-column TYPE change fails loudly, not at some later read") {
    import spark.implicits._
    val (base, mapper, _, _) = fixture()
    val sp1 = mkSpec(base, "conform_t")
    mapper.record(spark, sp1,
      Seq((1L, 1L)).toDF("source_src_id", "dest_id"), MappingStore.StatusMigrated)
    val sp2 = sp1.copy(destinationIds = Seq(IdField("id", StringId)))
    val e = intercept[graft.mapper.MappingSchemaMismatchException] {
      mapper.load(spark, sp2).get.collect()
    }
    assert(e.getMessage.contains("dest_id"), e.getMessage)
    assert(e.getMessage.contains("LongType"), e.getMessage)
  }

  test("bucketed parquet destination: upsert/orphan flow intact, snapshot join carries bucket partitioning") {
    import spark.implicits._
    val base = scratchDir("exec_bucketed_dest")
    val (_, mapper, refs, _) = fixture()
    val exec = new MigrationExecutor(mapper, refs, KeepOrphans)
    val sp = mkSpec(base, "bd")
    val dest = new ParquetDestinationDriver(buckets = Some(8))
    def src(n: Int) = inlineSource(s => {
      import s.implicits._
      (1L to n.toLong).map(i => (i, s"v$i")).toDF("src_id", "v")
    })
    val r1 = exec.execute(spark, natural(sp), src(500), dest)
    // second run shrinks the source: 100 orphans, kept
    val r2 = exec.execute(spark, natural(sp), src(400), dest)
    assert(r1.migrated == 500 && r2.migrated == 400 && r2.orphanCount == 100)
    val snap = dest.snapshot(spark, sp).get
    assert(snap.count() == 500, "kept orphans remain in the merged snapshot")
    assert(snap.inputFiles.length == 8, "one file per bucket")
    // the snapshot side of a dest-id join must not re-shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = (1L to 50L).toDF("id")
      val joined = snap.join(probe, Seq("id"))
      joined.collect()
      // AQE prints Final + Initial sections; assert on the final plan only
      val p = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("Bucketed: true"), s"snapshot scan must be bucketed:\n$p")
      assert("Exchange hashpartitioning\\(id#\\d+L, 8\\)".r.findAllIn(p).size <= 1,
        s"only the probe side may repartition to the bucket count:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("bucketed mapping store: identical results, no exchange on the mapping side of lookups") {
    import spark.implicits._
    val base = scratchDir("exec_bucketed")
    val mapper = new MappingStore(s"$base/map", buckets = Some(8))
    val refs = new ReferenceStore(mapper)
    val exec = new MigrationExecutor(mapper, refs, KeepOrphans)
    val sp = mkSpec(base, "bm")
    val src = inlineSource(s => {
      import s.implicits._
      (1L to 500L).map(i => (i, s"v$i")).toDF("src_id", "v")
    })
    val r1 = exec.execute(spark, natural(sp), src, new ParquetDestinationDriver)
    val r2 = exec.execute(spark, natural(sp), src, new ParquetDestinationDriver)
    assert(r1.migrated == 500 && r2.migrated == 500)
    assert(mapper.load(spark, sp).get.count() == 500, "bucketed merge upserts, not appends")
    // the bucketed generation holds exactly 8 bucket files
    val gen = mapper.load(spark, sp).get.inputFiles
    assert(gen.length == 8, s"expected 8 bucket files, got ${gen.length}")
    // lookup join: mapping side must carry partitioning from the buckets
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = (1L to 100L).toDF("src_id")
      val looked = mapper.lookupDest(probe, sp)
      looked.collect()
      val p = looked.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning\\(source_src_id".r.findFirstIn(p).isEmpty,
        s"mapping side of the lookup must not shuffle:\n$p")
      assert("Exchange hashpartitioning\\(src_id".r.findFirstIn(p).isDefined,
        s"probe side alone re-partitions to the bucket count:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  // ---- the LLM curation pipeline through the ETL core (r14 verdict
  // task 1): five dependent migrations, real mapping tables, upsert
  // re-runs, orphan propagation ----

  private def runCuration(base: String,
      docs: org.apache.spark.sql.DataFrame,
      policy: OrphanPolicy = KeepOrphans) = {
    val docsPath = s"$base/docs_src"
    docs.write.mode("overwrite").parquet(docsPath)
    val dest = new ParquetDestinationDriver
    graft.Engine(spark, Sf, attach = false).migrate(
      CurationPipeline.migrations(base),
      CurationPipeline.sources(docsPath, base, dest),
      _ => dest,
      mappingDir = s"$base/map",
      orphanPolicy = policy)
  }

  private def mixRollup(run: graft.Engine.MigrateRun): Seq[(Long, Long, String, String)] =
    run.results("llm_mix").finalSnapshot
      .select(col("did"), col("src_doc_id"), col("source"), col("predicted_lang"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSeq.sorted

  test("curation pipeline: re-run is idempotent — same ids, same corpus, zero orphans") {
    val base = scratchDir("exec_llm")
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val run1 = runCuration(base, docs)
    val out1 = mixRollup(run1)
    assert(out1.nonEmpty, "pipeline must curate a non-empty corpus")
    assert(run1.results.keySet == CurationPipeline.StageNames.toSet)
    run1.executor.release()

    // second run over the SAME source into the SAME destinations and
    // mapping dir: every stage takes the upsert path — mapped ids are
    // looked up, not re-generated; no stage reports orphans; the curated
    // corpus is bit-identical.
    val run2 = runCuration(base, docs)
    val out2 = mixRollup(run2)
    assert(out2 == out1, "re-run must reproduce the identical curated corpus")
    CurationPipeline.StageNames.foreach { s =>
      assert(run2.results(s).orphanCount == 0L, s"$s: re-run must see no orphans")
    }
    // the ingest mapping table kept its generated ids (one row per doc)
    val ingestSpec = CurationPipeline.migrations(base).head.spec
    assert(run2.mapper.load(spark, ingestSpec).get.count() == docs.count(),
      "ingest mapping must stay one row per source doc across re-runs")
    run2.executor.release()
  }

  test("curation pipeline: a shrunk source under PruneOrphans propagates deletions down the DAG") {
    val base = scratchDir("exec_llm_prune")
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val run1 = runCuration(base, docs)
    val full = mixRollup(run1)
    run1.executor.release()

    // re-run with half the corpus gone (GDPR-style source shrink): each
    // stage's source is the previous stage's post-prune snapshot, so the
    // deletion propagates end-to-end without any stage being told.
    val kept = docs.filter(col("doc_id") % 2 === 0)
    val run2 = runCuration(base, kept, PruneOrphans)
    assert(run2.results("llm_ingest").orphanCount > 0,
      "ingest must report the vanished docs as orphans")
    val pruned = mixRollup(run2)
    assert(pruned.nonEmpty && pruned.forall(_._2 % 2 == 0),
      "no odd source doc may survive anywhere in the curated corpus")
    // surviving ids are STABLE: every (did, doc) pair already existed in
    // the full run's ingest mapping (ids looked up, never re-assigned)
    val ingestSpec = CurationPipeline.migrations(base).head.spec
    val mapped = run2.mapper.load(spark, ingestSpec).get
      .select(col("source_doc_id").cast("long"), col("dest_did").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fullByDoc = full.map(t => t._2 -> t._1).toMap
    pruned.foreach { case (did, doc, _, _) =>
      assert(mapped.get(doc).contains(did), s"doc $doc: did must come from the mapping")
      fullByDoc.get(doc).foreach(origDid =>
        assert(origDid == did, s"doc $doc: did must be stable across the prune re-run"))
    }
    run2.executor.release()
  }
}
