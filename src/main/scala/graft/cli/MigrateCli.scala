package graft.cli

import graft.drivers._
import graft.exec._
import graft.mapper.MappingStore
import graft.spec.{ConnectionRegistry, MigrationRegistry, MigrationSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-key → driver resolution, the engine-side replacement for the
  * reference's DI-tag driver registry
  * (`/root/reference/src/DependencyInjection/A2BExtension.php:84-112`):
  * well-known keys for the built-ins, any other key treated as a
  * fully-qualified class name (the "custom drivers" extension point,
  * `doc/index.rst`).
  *
  * When a spec declares NO driver key, the driver is resolved from the
  * source/destination URI *scheme* — the reference's scheme-addressed
  * model (`NoDriverForSchemeException`/`UnclearDriverException`,
  * `/root/reference/src/Exception/`): `csv://dir`, `yaml:///abs/dir`,
  * `sqlite:///db.sqlite`, `jdbc:h2:…` all pick their driver without a
  * declaration. Custom drivers register schemes via
  * [[registerSourceScheme]]/[[registerDestinationScheme]]; a scheme
  * claimed by more than one driver fails resolution with the ambiguous
  * driver list, exactly as the reference prescribes.
  */
object DriverRegistry {
  import graft.spec.{BadUriException, NoDriverForSchemeException, UnclearDriverException}

  // unknown key AND not a loadable class → the reference's
  // NonexistentDriverException shape (`DriverManager.php:84-88`)
  private def loadDriver[D](key: String, kind: String): D =
    try Class.forName(key).getDeclaredConstructor().newInstance().asInstanceOf[D]
    catch {
      case _: ClassNotFoundException =>
        throw new IllegalArgumentException(
          s"""The requested $kind driver "$key" does not exist (not a built-in key, not a loadable class).""")
    }

  def source(key: String): SourceDriver = key match {
    case "parquet" => new ParquetSourceDriver
    case "orc" => new OrcSourceDriver
    case "csv" => new CsvSourceDriver()
    case "json" => new JsonSourceDriver()
    case "yaml" => new YamlSourceDriver
    case k if k.startsWith("sql:") => new SqlSourceDriver(k.stripPrefix("sql:"))
    case fqcn => loadDriver[SourceDriver](fqcn, "source")
  }

  def destination(key: String): DestinationDriver = key match {
    case "parquet" => new ParquetDestinationDriver()
    case "parquet+stubs" => new ParquetDestinationDriver(stubs = true)
    case "orc" => new OrcDestinationDriver
    case "csv" => new CsvDestinationDriver
    case "json" => new JsonDestinationDriver
    case "yaml" => new YamlDestinationDriver
    case "console" => new ConsoleDestinationDriver()
    case fqcn => loadDriver[DestinationDriver](fqcn, "destination")
  }

  // scheme → (driver display name, factory); JDBC database schemes map to
  // drivers that still need per-migration config (SQL statement / table),
  // supplied via Migration.configureSource/configureDestination — the same
  // two-phase shape as the reference's scheme-resolved DBAL drivers.
  private val jdbcSchemes = Seq("jdbc", "sqlite", "mysql", "mariadb", "postgresql", "h2", "derby")
  private val builtinSourceSchemes: Map[String, Seq[(String, () => SourceDriver)]] =
    Map(
      "parquet" -> Seq("parquet" -> (() => new ParquetSourceDriver)),
      "orc" -> Seq("orc" -> (() => new OrcSourceDriver)),
      "csv" -> Seq("csv" -> (() => new CsvSourceDriver())),
      "json" -> Seq("json" -> (() => new JsonSourceDriver())),
      "jsonl" -> Seq("json" -> (() => new JsonSourceDriver())),
      "yaml" -> Seq("yaml" -> (() => new YamlSourceDriver)),
      "yml" -> Seq("yaml" -> (() => new YamlSourceDriver))) ++
      jdbcSchemes.map(s => s -> Seq("jdbc" -> (() => new JdbcSourceDriver(""): SourceDriver)))
  private val builtinDestinationSchemes: Map[String, Seq[(String, () => DestinationDriver)]] =
    Map(
      "parquet" -> Seq("parquet" -> (() => new ParquetDestinationDriver())),
      "orc" -> Seq("orc" -> (() => new OrcDestinationDriver)),
      "csv" -> Seq("csv" -> (() => new CsvDestinationDriver)),
      "json" -> Seq("json" -> (() => new JsonDestinationDriver)),
      "jsonl" -> Seq("json" -> (() => new JsonDestinationDriver)),
      "yaml" -> Seq("yaml" -> (() => new YamlDestinationDriver)),
      "yml" -> Seq("yaml" -> (() => new YamlDestinationDriver)),
      "console" -> Seq("console" -> (() => new ConsoleDestinationDriver()))) ++
      jdbcSchemes.map(s => s -> Seq("jdbc" -> (() => new JdbcDestinationDriver(""): DestinationDriver)))

  private val customSourceSchemes =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, () => SourceDriver)]]
  private val customDestinationSchemes =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, () => DestinationDriver)]]

  /** Claim `scheme` for a custom source driver (the reference's `@Driver`
    * scheme declaration). Claiming an already-claimed scheme makes it
    * ambiguous — resolution then fails with [[UnclearDriverException]].
    */
  def registerSourceScheme(scheme: String, driverName: String, factory: () => SourceDriver): Unit =
    customSourceSchemes.updateWith(scheme.toLowerCase) {
      case Some(xs) => Some(xs :+ (driverName -> factory))
      case None     => Some(Seq(driverName -> factory))
    }

  def registerDestinationScheme(
      scheme: String, driverName: String, factory: () => DestinationDriver): Unit =
    customDestinationSchemes.updateWith(scheme.toLowerCase) {
      case Some(xs) => Some(xs :+ (driverName -> factory))
      case None     => Some(Seq(driverName -> factory))
    }

  private[cli] def unregisterSourceScheme(scheme: String): Unit =
    customSourceSchemes.remove(scheme.toLowerCase)
  private[cli] def unregisterDestinationScheme(scheme: String): Unit =
    customDestinationSchemes.remove(scheme.toLowerCase)

  private def resolve[D](
      uri: String,
      builtin: Map[String, Seq[(String, () => D)]],
      custom: scala.collection.Map[String, Seq[(String, () => D)]]): D = {
    val scheme = UriSchemes.schemeOf(uri).getOrElse(throw new BadUriException(uri))
    val candidates = builtin.getOrElse(scheme, Nil) ++ custom.getOrElse(scheme, Nil)
    candidates match {
      case Seq() => throw new NoDriverForSchemeException(scheme)
      case Seq((_, f)) => f()
      case many => throw new UnclearDriverException(scheme, many.map(_._1))
    }
  }

  /** Resolve a source driver from a URI's scheme (no driver declared). */
  def sourceForUri(uri: String): SourceDriver =
    resolve(uri, builtinSourceSchemes, customSourceSchemes)

  /** Resolve a destination driver from a URI's scheme. */
  def destinationForUri(uri: String): DestinationDriver =
    resolve(uri, builtinDestinationSchemes, customDestinationSchemes)
}

/** `a2b-spark migrate` — CLI parity with the reference's single entry
  * point (`/root/reference/src/Command/MigrateCommand.php:108-144`):
  *
  * {{{
  * migrate [FQCN…] [--group g]… [--simulate] [--prune|--preserve]
  *         [--no-deps] [--mapping-dir path] [--chunks n] [--parallel n]
  * }}}
  *
  * Migrations are user classes implementing [[graft.exec.Migration]],
  * loaded by FQCN (the reflection-free Spark analogue of annotation
  * scanning). `--simulate` swaps every destination for the console sink
  * (`MigrateCommand.php:192-195`); `--prune` ⊕ `--preserve` is enforced
  * (`:174-178`); the interactive orphan "ask" default becomes
  * preserve-unless-flagged (a batch engine cannot prompt per entity);
  * `--no-deps` skips dependency expansion (`:134-138`).
  */
object MigrateCli {

  final case class Args(
      migrations: Seq[String] = Nil,
      groups: Set[String] = Set.empty,
      simulate: Boolean = false,
      prune: Boolean = false,
      preserve: Boolean = false,
      noDeps: Boolean = false,
      mappingDir: String = "a2b_mappings",
      chunks: Int = 1,
      parallel: Int = 1,
      orphanReport: Option[String] = None,
      progress: Boolean = false)

  def parse(argv: Seq[String]): Args = {
    def loop(rest: List[String], acc: Args): Args = rest match {
      case Nil => acc
      case "--group" :: g :: t => loop(t, acc.copy(groups = acc.groups + g))
      case "--simulate" :: t => loop(t, acc.copy(simulate = true))
      case "--prune" :: t => loop(t, acc.copy(prune = true))
      case "--preserve" :: t => loop(t, acc.copy(preserve = true))
      case "--no-deps" :: t => loop(t, acc.copy(noDeps = true))
      case "--mapping-dir" :: d :: t => loop(t, acc.copy(mappingDir = d))
      case "--chunks" :: n :: t => loop(t, acc.copy(chunks = n.toInt))
      case "--parallel" :: n :: t => loop(t, acc.copy(parallel = n.toInt))
      case "--orphan-report" :: d :: t => loop(t, acc.copy(orphanReport = Some(d)))
      case "--progress" :: t => loop(t, acc.copy(progress = true))
      case fqcn :: t => loop(t, acc.copy(migrations = acc.migrations :+ fqcn))
    }
    val a = loop(argv.toList, Args())
    // `MigrateCommand.php:174-178`
    require(!(a.prune && a.preserve), "--prune and --preserve are mutually exclusive")
    a
  }

  def instantiate(fqcn: String): Migration =
    Class.forName(fqcn).getDeclaredConstructor().newInstance().asInstanceOf[Migration]

  /** A migration whose spec went through [[ConnectionRegistry.resolveSpec]]
    * — the engine's form of the reference resolving named connections and
    * `%param%` placeholders at registration time
    * (`DataMigrationManager::addMigration`, `:127-129`). Transform and
    * driver-configuration hooks delegate to the user's class untouched.
    */
  private final class ResolvedMigration(underlying: Migration, resolved: MigrationSpec)
      extends Migration {
    def spec: MigrationSpec = resolved
    def transform(source: DataFrame, ctx: TransformContext): DataFrame =
      underlying.transform(source, ctx)
    override def configureSource(driver: SourceDriver): SourceDriver =
      underlying.configureSource(driver)
    override def configureDestination(driver: DestinationDriver): DestinationDriver =
      underlying.configureDestination(driver)
  }

  private def resolveConnections(m: Migration): Migration = {
    val resolved = ConnectionRegistry.resolveSpec(m.spec)
    if (resolved eq m.spec) m else new ResolvedMigration(m, resolved)
  }

  /** Resolve, order and execute; returns per-migration results. */
  def run(spark: SparkSession, args: Args,
      loaded: Seq[Migration] = Nil): Map[String, MigrationResult] = {
    val explicit = args.migrations.map(instantiate)
    // named-connection + %param% resolution happens once, at registration
    // (reference `addMigration` → `resolveDefinitionProperty`)
    val candidates = (loaded ++ explicit).distinctBy(_.spec.name).map(resolveConnections)
    // selection parity with `MigrateCommand::getMigrations`
    // (`/root/reference/src/Command/MigrateCommand.php:228-241` + the
    // `--group` default `['default']` at `:112-117`): explicitly named
    // migrations run regardless of group; otherwise the group filter
    // applies, defaulting to the "default" group — a bare run does NOT
    // sweep up specially-grouped migrations.
    val selected =
      if (explicit.nonEmpty) explicit
      else {
        val gs = if (args.groups.nonEmpty) args.groups else Set("default")
        candidates.filter(m => gs.contains(m.spec.group))
      }
    require(selected.nonEmpty, "no migrations selected")

    val registry = new MigrationRegistry
    candidates.foreach(m => registry.add(m.spec))
    val (ordered, implicitAdds) =
      registry.resolveOrder(selected.map(_.spec.name), noDeps = args.noDeps)
    if (implicitAdds.nonEmpty)
      System.err.println(s"[a2b-spark] implicitly added dependencies: ${implicitAdds.mkString(", ")}")

    val byName = candidates.map(m => m.spec.name -> m).toMap
    val mapper = new MappingStore(args.mappingDir)
    val refs = new ReferenceStore(mapper)
    val policy = if (args.prune) PruneOrphans else KeepOrphans
    val executor = new MigrationExecutor(mapper, refs, policy)

    // wire drivers + register every reference target before any run (a
    // parallel level may resolve references into a sibling branch's spec)
    val wired = ordered.map { spec =>
      val m = byName(spec.name)
      // explicit driver key wins; an empty key resolves from the URI
      // scheme (reference DriverManager model)
      val source = m.configureSource(
        if (spec.sourceDriver.nonEmpty) DriverRegistry.source(spec.sourceDriver)
        else DriverRegistry.sourceForUri(spec.source))
      val dest0 =
        if (args.simulate) new ConsoleDestinationDriver() // MigrateCommand.php:192-195
        else if (spec.destinationDriver.nonEmpty) DriverRegistry.destination(spec.destinationDriver)
        else DriverRegistry.destinationForUri(spec.destination)
      val dest = m.configureDestination(dest0)
      refs.register(spec, dest)
      spec.name -> ((m, source, dest))
    }.toMap
    def runOne(spec: MigrationSpec): (String, MigrationResult) = {
      val (m, source, dest) = wired(spec.name)
      def exec() =
        if (spec.flush || args.chunks > 1)
          executor.executeChunked(spark, m, source, dest, math.max(args.chunks, 2))
        else executor.execute(spark, m, source, dest)
      // `--progress`: scheduler-level task progress per migration — the
      // distributed form of the reference's per-row console bar
      val result =
        if (args.progress) MigrationProgress.withProgress(spark, spec.name)(exec())
        else exec()
      System.err.println(
        s"[a2b-spark] ${spec.name}: migrated=${result.migrated} orphans=${result.orphanCount}")
      // the batch replacement for the reference's interactive per-orphan
      // "ask": an auditable report of what keep/prune acted on
      args.orphanReport.foreach { dir =>
        if (result.orphanCount > 0)
          result.orphans.write.mode("overwrite").parquet(s"$dir/${spec.name}")
      }
      spec.name -> result
    }
    // the run owns what its executor and reference store pinned: both are
    // released before returning, once every write and orphan report is
    // done (the returned frames stay valid plans and recompute if read)
    try {
      if (args.parallel <= 1) ordered.map(runOne).toMap
      else {
        import scala.concurrent.duration.Duration
        import scala.concurrent.{Await, ExecutionContext, Future}
        val (levels, _) =
          registry.resolveLevels(selected.map(_.spec.name), noDeps = args.noDeps)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(args.parallel)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try levels.flatMap { level =>
          Await.result(Future.sequence(level.map(s => Future(runOne(s)))), Duration.Inf)
        }.toMap
        finally pool.shutdown()
      }
    } finally { executor.release(); refs.release() }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toIndexedSeq)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[${Runtime.getRuntime.availableProcessors}]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    try run(spark, args) finally spark.stop()
  }
}
