package graft.cli

import graft.SparkSpec
import graft.drivers.{ParquetDestinationDriver, SourceDriver}
import graft.exec.{Migration, TransformContext}
import graft.spec.{ConnectionRegistry, IdField, LongId, MigrationSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture migrations wired through system properties (the CLI loads by
  * FQCN, so fixtures must be no-arg-constructible).
  */
class NationFixtureMigration extends Migration {
  def spec: MigrationSpec = MigrationSpec(
    name = "nation_fix",
    source = sys.props("graft.test.src"),
    sourceDriver = "parquet",
    destination = sys.props("graft.test.dst") + "/nation",
    destinationDriver = "parquet",
    sourceIds = Seq(IdField("n_nationkey", LongId)),
    destinationIds = Seq(IdField("n_nationkey", LongId)),
    group = "fixtures")
  def transform(src: DataFrame, ctx: TransformContext): DataFrame =
    src.select(col("n_nationkey"), upper(col("n_name")).as("name_upper"))
}

class DependentFixtureMigration extends Migration {
  def spec: MigrationSpec = MigrationSpec(
    name = "dependent_fix",
    source = sys.props("graft.test.src2"),
    sourceDriver = "parquet",
    destination = sys.props("graft.test.dst") + "/region",
    destinationDriver = "parquet",
    sourceIds = Seq(IdField("r_regionkey", LongId)),
    destinationIds = Seq(IdField("r_regionkey", LongId)),
    group = "fixtures",
    depends = Seq("nation_fix"))
  def transform(src: DataFrame, ctx: TransformContext): DataFrame =
    src.select(col("r_regionkey"), col("r_name"))
}

class MigrateCliSpec extends SparkSpec {

  private def setProps(): String = {
    val base = scratchDir("cli")
    sys.props("graft.test.src") = s"$Sf/nation.parquet"
    sys.props("graft.test.src2") = s"$Sf/region.parquet"
    sys.props("graft.test.dst") = base
    base
  }

  test("flag parsing: groups, simulate, exclusivity, no-deps") {
    val a = MigrateCli.parse(Seq("--group", "g1", "--group", "g2", "--simulate",
      "--no-deps", "--chunks", "3", "--parallel", "4", "x.Y"))
    assert(a.groups == Set("g1", "g2") && a.simulate && a.noDeps
      && a.chunks == 3 && a.parallel == 4 && a.migrations == Seq("x.Y"))
    assertThrows[IllegalArgumentException](MigrateCli.parse(Seq("--prune", "--preserve")))
  }

  test("--orphan-report writes pruned/kept orphans for audit") {
    val base = setProps()
    // run 1 populates; run 2 re-runs with 5 source rows filtered away so
    // those destinations become orphans and land in the report
    val m1 = new NationFixtureMigration
    MigrateCli.run(spark, MigrateCli.Args(mappingDir = s"$base/map",
      groups = Set("fixtures")), loaded = Seq(m1))
    val shrunk = new Migration {
      def spec: MigrationSpec = m1.spec
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        m1.transform(src.filter(col("n_nationkey") < 20), ctx)
    }
    MigrateCli.run(spark, MigrateCli.Args(mappingDir = s"$base/map",
      groups = Set("fixtures"), orphanReport = Some(s"$base/orphans")),
      loaded = Seq(shrunk))
    val report = spark.read.parquet(s"$base/orphans/nation_fix")
    assert(report.count() == 5, "5 vanished nations reported")
  }

  test("--parallel run matches serial results and respects dependency levels") {
    val base = setProps()
    val results = MigrateCli.run(spark,
      MigrateCli.Args(
        migrations = Seq("graft.cli.DependentFixtureMigration",
          "graft.cli.NationFixtureMigration"),
        mappingDir = s"$base/map", parallel = 4))
    assert(results.keySet == Set("nation_fix", "dependent_fix"))
    assert(results("nation_fix").migrated == 25)
    assert(results("dependent_fix").migrated == 5)
  }

  test("explicit FQCN run end-to-end with dependency expansion in topo order") {
    val base = setProps()
    val results = MigrateCli.run(spark,
      MigrateCli.Args(
        migrations = Seq("graft.cli.DependentFixtureMigration",
          "graft.cli.NationFixtureMigration"),
        mappingDir = s"$base/map"))
    assert(results.keySet == Set("nation_fix", "dependent_fix"))
    assert(results("nation_fix").migrated == 25)
    assert(results("dependent_fix").migrated == 5)
    val out = spark.read.parquet(s"$base/nation/gen0")
    assert(out.columns.toSet == Set("n_nationkey", "name_upper"))
  }

  test("dependency pulled in implicitly when only the dependent is requested") {
    val base = setProps()
    val results = MigrateCli.run(spark,
      MigrateCli.Args(migrations = Seq("graft.cli.DependentFixtureMigration"),
        mappingDir = s"$base/map"),
      loaded = Seq(new NationFixtureMigration))
    assert(results.keySet == Set("nation_fix", "dependent_fix"))
  }

  test("--simulate writes nothing") {
    val base = setProps()
    MigrateCli.run(spark,
      MigrateCli.Args(migrations = Seq("graft.cli.NationFixtureMigration"),
        simulate = true, mappingDir = s"$base/map"))
    assert(!new java.io.File(s"$base/nation").exists(), "console sink leaves no files")
  }

  test("--progress reports scheduler task progress scoped to the migration's own jobs") {
    val base = setProps()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val n = graft.exec.MigrationProgress.withProgress(
        spark, "probe", everyMs = 0L, out = l => lines.synchronized { lines += l }) {
      spark.range(100000L).repartition(8).count()
    }
    assert(n == 100000L)
    assert(lines.exists(_.contains("tasks")), s"throttle-free run must emit progress: $lines")
    assert(lines.last.contains("done —"), s"final summary expected: $lines")
    // job-group scoping: a listener for group A must not count jobs run
    // under another group (the --parallel isolation property)
    val other = new graft.exec.MigrationProgressListener(
      "other", 0L, _ => (), jobGroup = Some("some-other-group"))
    spark.sparkContext.addSparkListener(other)
    try {
      spark.range(50000L).repartition(4).count()
      Thread.sleep(1000) // listener bus is async; give events time to drain
      assert(other.done == 0L, s"scoped listener must ignore ungrouped jobs, saw ${other.done}")
    } finally spark.sparkContext.removeSparkListener(other)
    // the CLI flag parses and a --progress run completes normally
    assert(MigrateCli.parse(Seq("--progress", "x.Y")).progress)
    val result = MigrateCli.run(spark, MigrateCli.Args(mappingDir = s"$base/map",
      groups = Set("fixtures"), progress = true), loaded = Seq(new NationFixtureMigration))
    assert(result("nation_fix").migrated == 25)
  }

  test("URI-scheme driver resolution: dispatch, unknown scheme, ambiguity, bad URI") {
    import graft.drivers._
    import graft.spec.{BadUriException, NoDriverForSchemeException, UnclearDriverException}
    // dispatch by scheme
    assert(DriverRegistry.sourceForUri("parquet:///data/x").isInstanceOf[ParquetSourceDriver])
    assert(DriverRegistry.sourceForUri("csv://dir/x.csv").isInstanceOf[CsvSourceDriver])
    assert(DriverRegistry.sourceForUri("yml:///y").isInstanceOf[YamlSourceDriver])
    assert(DriverRegistry.sourceForUri("sqlite:///db.sqlite").isInstanceOf[JdbcSourceDriver])
    assert(DriverRegistry.destinationForUri("yaml://out").isInstanceOf[YamlDestinationDriver])
    assert(DriverRegistry.destinationForUri("jdbc:h2:mem:t").isInstanceOf[JdbcDestinationDriver])
    // unknown scheme / no scheme — reference NoDriverForScheme/BadUri parity
    val noDriver = intercept[NoDriverForSchemeException](
      DriverRegistry.sourceForUri("gopher://x"))
    assert(noDriver.getMessage.contains("\"gopher\""))
    // unknown driver KEY — NonexistentDriverException parity
    val badKey = intercept[IllegalArgumentException](DriverRegistry.source("no.such.Driver"))
    assert(badKey.getMessage.contains("does not exist"))
    assertThrows[BadUriException](DriverRegistry.sourceForUri("/plain/path"))
    // a second driver claiming an existing scheme makes it ambiguous
    DriverRegistry.registerSourceScheme("csv", "custom-csv", () => new CsvSourceDriver())
    try {
      val unclear = intercept[UnclearDriverException](
        DriverRegistry.sourceForUri("csv://dir/x.csv"))
      assert(unclear.getMessage.contains("csv") && unclear.getMessage.contains("custom-csv"))
    } finally DriverRegistry.unregisterSourceScheme("csv")
    // custom scheme registration resolves after the conflict is removed
    DriverRegistry.registerDestinationScheme("mysink", "my-sink", () => new ConsoleDestinationDriver())
    try assert(DriverRegistry.destinationForUri("mysink://out")
      .isInstanceOf[ConsoleDestinationDriver])
    finally DriverRegistry.unregisterDestinationScheme("mysink")
  }

  test("spec with no driver keys runs end-to-end via scheme-resolved drivers") {
    val base = setProps()
    // parquet source/destination resolved purely from URI schemes; the
    // format scheme is stripped before the path reaches Spark
    val m = new Migration {
      def spec: MigrationSpec = MigrationSpec(
        name = "scheme_fix",
        source = "parquet://" + sys.props("graft.test.src"),
        destination = "parquet://" + sys.props("graft.test.dst") + "/scheme_nation",
        sourceIds = Seq(IdField("n_nationkey", LongId)),
        destinationIds = Seq(IdField("n_nationkey", LongId)))
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        src.select(col("n_nationkey"), upper(col("n_name")).as("name_upper"))
    }
    val results = MigrateCli.run(spark,
      MigrateCli.Args(mappingDir = s"$base/map"), loaded = Seq(m))
    assert(results("scheme_fix").migrated == 25)
    assert(spark.read.parquet(s"$base/scheme_nation/gen0").count() == 25)
  }

  test("bare run selects group 'default' only; explicit names ignore groups (reference parity)") {
    val base = setProps()
    // fixtures declare group "fixtures": a bare run (no names, no
    // --group) must select nothing, like the reference's default
    // --group=['default']
    assertThrows[IllegalArgumentException](
      MigrateCli.run(spark, MigrateCli.Args(mappingDir = s"$base/map"),
        loaded = Seq(new NationFixtureMigration)))
    // explicitly named migrations run regardless of their group
    val results = MigrateCli.run(spark,
      MigrateCli.Args(migrations = Seq("graft.cli.NationFixtureMigration"),
        groups = Set("some-other-group"), mappingDir = s"$base/map"))
    assert(results("nation_fix").migrated == 25)
  }

  test("group selection picks only tagged migrations") {
    val base = setProps()
    val results = MigrateCli.run(spark,
      MigrateCli.Args(groups = Set("fixtures"), mappingDir = s"$base/map"),
      loaded = Seq(new NationFixtureMigration, new DependentFixtureMigration))
    assert(results.keySet == Set("nation_fix", "dependent_fix"))
    assertThrows[IllegalArgumentException](
      MigrateCli.run(spark, MigrateCli.Args(groups = Set("nope"), mappingDir = s"$base/map"),
        loaded = Seq(new NationFixtureMigration)))
  }

  // --- named connections + %param% substitution -------------------------
  // (reference `DataMigrationManager.php:155-183`, `Configuration.php:31-54`)

  private def connSpec(src: String, dst: String) = MigrationSpec("conn_fix",
    source = src, destination = dst,
    sourceIds = Seq(IdField("k", LongId)), destinationIds = Seq(IdField("k", LongId)))

  test("named connection hit substitutes both URI and driver") {
    ConnectionRegistry.addSource("cli_spec_db", "jdbc:h2:mem:shared", "jdbc")
    ConnectionRegistry.addDestination("cli_spec_out", "parquet:///tmp/out", "parquet")
    val r = ConnectionRegistry.resolveSpec(connSpec("cli_spec_db", "cli_spec_out"))
    assert(r.source == "jdbc:h2:mem:shared" && r.sourceDriver == "jdbc")
    assert(r.destination == "parquet:///tmp/out" && r.destinationDriver == "parquet")
    // first registration wins (`addSource`'s !isset guard)
    ConnectionRegistry.addSource("cli_spec_db", "csv://other", "csv")
    val again = ConnectionRegistry.resolveSpec(connSpec("cli_spec_db", "cli_spec_out"))
    assert(again.source == "jdbc:h2:mem:shared" && again.sourceDriver == "jdbc")
  }

  test("unknown name falls through to URI/scheme resolution untouched") {
    val r = ConnectionRegistry.resolveSpec(connSpec("csv://some/dir", "yaml:///out"))
    assert(r.source == "csv://some/dir" && r.sourceDriver.isEmpty)
    assert(r.destination == "yaml:///out" && r.destinationDriver.isEmpty)
  }

  test("%param% placeholders expand recursively, %% escapes, unknown throws") {
    ConnectionRegistry.setParameter("cli_spec.root", "/data/%cli_spec.env%")
    ConnectionRegistry.setParameter("cli_spec.env", "prod")
    assert(ConnectionRegistry.resolveValue("csv://%cli_spec.root%/x") == "csv:///data/prod/x")
    assert(ConnectionRegistry.resolveValue("100%% organic") == "100% organic")
    val ex = intercept[graft.spec.UnknownParameterException](
      ConnectionRegistry.resolveValue("%cli_spec.never_set%"))
    assert(ex.parameter == "cli_spec.never_set")
    // placeholders inside a *named connection's* URI expand on resolve
    ConnectionRegistry.addSource("cli_spec_param_db", "csv://%cli_spec.root%/conn", "csv")
    val r = ConnectionRegistry.resolveSpec(connSpec("cli_spec_param_db", "parquet:///o"))
    assert(r.source == "csv:///data/prod/conn" && r.sourceDriver == "csv")
  }

  test("CLI run resolves a named connection end-to-end") {
    val base = setProps()
    ConnectionRegistry.setParameter("cli_spec.base", base)
    ConnectionRegistry.addSource("cli_spec_nation_src", s"$Sf/nation.parquet", "parquet")
    ConnectionRegistry.addDestination("cli_spec_nation_dst",
      "parquet://%cli_spec.base%/named_nation", "parquet")
    val m = new Migration {
      def spec: MigrationSpec = MigrationSpec("named_fix",
        source = "cli_spec_nation_src", destination = "cli_spec_nation_dst",
        sourceIds = Seq(IdField("n_nationkey", LongId)),
        destinationIds = Seq(IdField("n_nationkey", LongId)))
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        src.select(col("n_nationkey"), col("n_name"))
    }
    val results = MigrateCli.run(spark,
      MigrateCli.Args(mappingDir = s"$base/map"), loaded = Seq(m))
    assert(results("named_fix").migrated == 25)
    assert(spark.read.parquet(s"$base/named_nation/gen0").count() == 25)
  }

  test("a CLI run releases what it pinned: no persistent RDD outlives run()") {
    val base = setProps()
    // a region migration that resolves a reference into nation_fix
    // (memoized by the reference store), run twice so the second run
    // takes the update path with its orphan pass
    val withRef = new Migration {
      def spec: MigrationSpec = MigrationSpec("region_ref", source = s"$Sf/region.parquet",
        sourceDriver = "parquet", destination = s"$base/region_ref",
        destinationDriver = "parquet", sourceIds = Seq(IdField("r_regionkey", LongId)),
        destinationIds = Seq(IdField("r_regionkey", LongId)), group = "fixtures",
        depends = Seq("nation_fix"))
      def transform(src: DataFrame, ctx: TransformContext): DataFrame =
        ctx.references.resolve(src.withColumn("nk", col("r_regionkey")), "nation_fix",
            Map("nk" -> "n_nationkey"), Seq("name_upper" -> "nation_name"))
          .select(col("r_regionkey"), col("r_name"), col("nation_name"))
    }
    val loaded = Seq(new NationFixtureMigration, withRef)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    (1 to 2).foreach { run =>
      val results = MigrateCli.run(spark, MigrateCli.Args(mappingDir = s"$base/map",
        groups = Set("fixtures")), loaded = loaded)
      assert(results("region_ref").migrated == 5)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"run $run left ${left.size} persistent RDDs pinned")
    }
  }
}
