package graft.exec

import graft.drivers.{DestinationDriver, SourceDriver}
import graft.mapper.MappingStore
import graft.spec.MigrationSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** What to do with destination rows whose source row disappeared —
  * keep/prune; the reference's interactive "ask"
  * (`DataMigrationExecutor.php:275-307`) is replaced by an explicit policy
  * because per-row prompts are incompatible with a distributed batch job
  * (SURVEY §7.4).
  */
sealed trait OrphanPolicy
case object KeepOrphans extends OrphanPolicy
case object PruneOrphans extends OrphanPolicy
/** Incremental/streaming merges: the source is a *delta*, not the full
  * universe, so "existing key absent from this batch" means nothing —
  * existing rows are retained and no orphan bookkeeping happens. Without
  * this mode a micro-batch ingest would mark every previously-ingested
  * key as an orphan (and PruneOrphans would destroy data).
  */
case object IgnoreOrphans extends OrphanPolicy

/** User-facing migration: declarative spec + a whole-DataFrame transform.
  *
  * The reference's per-row `transform(sourceRow, currentDestEntity)`
  * (`/root/reference/src/DataMigration/DataMigrationInterface.php:30-51`)
  * becomes a set-level `DataFrame => DataFrame`: row-skip (`return null`)
  * is a `filter`, per-row mutation is `select`/`withColumn`, and the
  * "current destination entity" argument is available as
  * `ctx.currentFor(df)` — a left join against the destination snapshot
  * instead of a point read per row
  * (`DataMigrationExecutor.php:177-189`).
  */
trait Migration {
  def spec: MigrationSpec
  def transform(source: DataFrame, ctx: TransformContext): DataFrame

  /** Per-migration driver configuration hooks — parity with the
    * reference's `configureSource`/`configureDestination` (e.g. setting
    * the SQL statement on a DBAL source;
    * `/root/reference/src/Command/MigrateCommand.php:197-202`,
    * `doc/usage/creating_migrations.rst` "Configuration"). Default:
    * driver used as resolved.
    */
  def configureSource(driver: SourceDriver): SourceDriver = driver
  def configureDestination(driver: DestinationDriver): DestinationDriver = driver
}

/** Context handed to transforms: the destination snapshot (update path)
  * and cross-migration reference lookups (§3.3), both as joins.
  */
final class TransformContext(
    val spark: SparkSession,
    val spec: MigrationSpec,
    val snapshot: Option[DataFrame],
    val references: ReferenceStore) {

  /** Left-join the current destination entity columns (suffixed
    * `__current`) onto `df` by mapped destination ids — the set-oriented
    * `dest.read(dIds) ?? defaultResult()` (`Executor.php:178-183`).
    * Columns are null for the insert path; `coalesce(col, default)` in the
    * transform plays the role of `defaultResult()`.
    */
  def currentFor(df: DataFrame): DataFrame = snapshot match {
    case None => df
    case Some(snap) =>
      val renamed = snap.columns.foldLeft(snap)((a, c) => a.withColumnRenamed(c, c + "__current"))
      // `===`: dest ids are non-null key columns (IdField int|string);
      // unmapped incoming rows carry NULL dest ids and must match nothing
      // (insert path) — plain equality gives exactly that, and lets a
      // bucketed snapshot serve this join without an exchange.
      val cond = spec.destinationIds
        .map(f => df(s"${MappingStore.DestPrefix}${f.name}") === renamed(f.name + "__current"))
        .reduce(_ && _)
      df.join(renamed, cond, "left")
  }
}

/** A delta whose compute half has run ([[MigrationExecutor.computeDelta]]):
  * `result` describes the evaluated, pinned delta; `commit` performs its
  * durable writes — mapping record, then data — and returns `result`.
  */
final class StagedDelta private[exec] (val result: MigrationResult, writes: () => Unit) {
  def commit(): MigrationResult = { writes(); result }
}

final case class MigrationResult(
    migrated: Long,
    orphans: DataFrame,
    orphanCount: Long,
    finalSnapshot: DataFrame,
    /** Destination-key tuples of this run's incoming rows — what
      * [[MigrationExecutor.executeChunked]] unions across chunks so its
      * orphan pass compares the pre snapshot against *this run's* keys,
      * not against the whole persistent mapping table (which still holds
      * keys from prior runs).
      */
    incomingKeys: DataFrame)

/** The per-migration pipeline of `DataMigrationExecutor::execute`
  * (`/root/reference/src/DataMigration/DataMigrationExecutor.php:108-135`),
  * collapsed from a row-at-a-time loop into ~4 declarative Spark steps:
  *
  * {{{
  * incoming = transform(source)                        // user map
  * incoming = mapping.lookupDest(incoming)             // broadcast join, not per-row SELECT
  * merged   = snapshot FULL OUTER incoming ON destIds  // insert-vs-update decided set-wise
  * orphans  = snapshot LEFT ANTI incoming              // Executor.php:368-382
  * write(merged); mapping.record(...)                  // upsert + bookkeeping
  * }}}
  *
  * Every step is a Catalyst plan: filters/pruning push into the scans, the
  * mapping join broadcasts (mapping ≪ fact data), and the full-outer merge
  * is one shuffle on the destination key — the minimum possible for an
  * upsert. No driver-side collects anywhere, so the same code runs on
  * 1000 executors against 100 TB.
  */
final class MigrationExecutor(
    mapper: MappingStore,
    references: ReferenceStore,
    orphanPolicy: OrphanPolicy = KeepOrphans) {

  // Every plain `.persist()` this executor issues, so the caller can
  // release them once a run's results have been consumed (`release()`).
  // Barriered frames (reliable checkpoint, lineage truncated) are
  // deliberately NOT tracked: unpersisting one would lose the only copy.
  // Thread-safe — executeAll runs independent DAG branches concurrently.
  private val pinned = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private def pin(df: DataFrame): DataFrame = { pinned.add(df); df }

  /** Unpersist every frame this executor pinned. Safe at any point after
    * the run's eager work (counts, destination writes, mapping records)
    * has completed: plain persists are only taken on paths whose inputs
    * stay re-readable (stable snapshots / deterministic sources), so a
    * released result frame recomputes correctly — the persists are
    * caches, the barriers are the correctness mechanism. Long-lived
    * callers (the nightly-loop shape) should release after each run or
    * pinned storage accumulates for the session lifetime.
    */
  def release(): Unit = {
    var df = pinned.poll()
    while (df != null) { df.unpersist(); df = pinned.poll() }
  }

  def execute(
      spark: SparkSession,
      migration: Migration,
      source: SourceDriver,
      dest: DestinationDriver): MigrationResult = {
    val spec = migration.spec
    val destIdCols = spec.destinationIds.map(_.name)

    // 1. scan + key extraction/cast (`Executor.php:340-356`): declared id
    //    columns cast per IdField type; unset keys are an error.
    val raw = source.read(spark, spec)
    val keyed = spec.sourceIds.foldLeft(raw)((df, f) =>
      df.withColumn(f.name, col(f.name).cast(f.idType.sparkType)))

    val snapshot = dest.snapshot(spark, spec)
    val ctx = new TransformContext(spark, spec, snapshot, references)

    // 2. user transform (row-skip ⇒ the transform filters)
    val transformed = migration.transform(keyed, ctx)

    // 3. resolve destination ids through the mapping table. Transforms
    //    that already emit dest id columns (natural keys) keep them;
    //    otherwise mapped ids apply, and still-unmapped rows get generated
    //    ids (the set-wise replacement for ORM-populated auto ids,
    //    `DoctrineDestinationDriver.php:156-173`, SURVEY §7.4).
    val hasNaturalIds = destIdCols.forall(transformed.columns.contains)
    val incoming0 =
      if (hasNaturalIds) transformed
      else {
        val mapped = mapper.lookupDest(transformed, spec)
        assignGeneratedIds(mapped, spec, snapshot)
      }
    // If this sink's write invalidates the pre-write snapshot (CSV swap
    // deletes the backing files; JDBC mutates the table in place), every
    // snapshot-derived plan evaluated after the write — mapping rows from
    // a ctx.currentFor transform, orphans, the returned finalSnapshot —
    // would read deleted files or post-write state. Checkpoint `incoming`
    // (a real disk barrier: persist()+count() is best-effort, evicted
    // partitions recompute from the mutated destination) so everything
    // downstream derives from stable data. Generation-pointer sinks keep
    // old snapshots readable and skip all of this.
    val snapshotUnstable = snapshot.nonEmpty && !dest.snapshotIsStableAcrossWrites
    // Either way `incoming` is evaluated exactly once, here, before any
    // orphan, merge, mapping or write plan reads it: every later job
    // scans the pinned copy (or the checkpoint), so the transform runs
    // once per row, and the joins against it plan with its real size.
    val incoming =
      if (snapshotUnstable) MigrationExecutor.barrier(incoming0) else pin(incoming0.persist())
    val migratedCount = incoming.count()

    // 4. orphans: existing dest keys with no surviving incoming row —
    //    exact `left_anti` parity with `Executor.php:368-382`. (Under
    //    IgnoreOrphans the anti-join still feeds the merge as survivors,
    //    but is not *reported* as orphans.)
    val orphans = snapshot match {
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        incoming.select(destIdCols.map(col): _*).schema)
      case Some(snap) =>
        snap.join(incoming, joinCond(snap, incoming, destIdCols), "left_anti")
    }
    // Materialized BEFORE the write — the orphan plan reads the pre-write
    // snapshot directly, and the survivors union below must not re-read it
    // after the write either.
    val orphansPersisted =
      if (snapshotUnstable) MigrationExecutor.barrier(orphans) else pin(orphans.persist())
    val orphanCount = orphansPersisted.count()

    // 5. merge: incoming wins over existing on key equality; kept orphans
    //    ride along under KeepOrphans, vanish under PruneOrphans. Built
    //    from the materialized incoming and orphans, so the merged plan
    //    (returned as finalSnapshot) stays evaluable after the write.
    val body = incoming.select(
      (destIdCols ++ transformedValueCols(incoming, spec)).map(col): _*)
    val merged = snapshot match {
      case None => body
      case Some(_) =>
        val survivors = orphanPolicy match {
          case KeepOrphans | IgnoreOrphans =>
            orphansPersisted.select(body.columns.map(c => col(c)): _*)
          case PruneOrphans =>
            orphansPersisted.limit(0).select(body.columns.map(c => col(c)): _*)
        }
        body.unionByName(survivors)
    }

    // 6. write destination, then record mappings (status=migrated), and
    //    all-NULL-source rows for kept orphans (`Executor.php:320-326`).
    //    When the sink overwrites the very location `snapshot` reads from
    //    (JDBC truncate+overwrite), the merged plan MUST be fully
    //    materialized first through a reliable barrier — a cached plan
    //    whose partitions are evicted mid-write would recompute from the
    //    already-truncated table. On read-safe sinks `merged` is only a
    //    plan over the two pinned frames: one cached copy of the rows.
    val finalSnapshot =
      if (snapshot.nonEmpty && !dest.overwriteIsReadSafe) MigrationExecutor.barrier(merged)
      else merged
    dest.write(finalSnapshot, spec)

    val mappingRows = incoming.select(
      spec.sourceIds.map(f => col(f.name).as(s"${MappingStore.SourcePrefix}${f.name}")) ++
        spec.destinationIds.map(f => col(f.name).as(s"${MappingStore.DestPrefix}${f.name}")): _*)
    mapper.record(spark, spec, mappingRows, MappingStore.StatusMigrated)
    val reported =
      if (orphanPolicy == IgnoreOrphans) orphansPersisted.limit(0) else orphansPersisted
    if (orphanPolicy == KeepOrphans && orphanCount > 0) {
      mapper.recordOrphansKept(spark, spec,
        orphansPersisted.select(spec.destinationIds.map(f =>
          col(f.name).as(s"${MappingStore.DestPrefix}${f.name}")): _*))
    }
    MigrationResult(migratedCount, reported,
      if (orphanPolicy == IgnoreOrphans) 0L else orphanCount,
      finalSnapshot, incoming.select(destIdCols.map(col): _*))
  }

  /** Incremental (delta) execution — the O(batch) path for streaming /
    * micro-batch pipelines. The source is a DELTA of new or changed rows,
    * NOT the full universe, so there is no orphan pass (absence from a
    * delta means nothing — the [[IgnoreOrphans]] rationale) and the
    * destination absorbs the batch as a merge-on-read log segment
    * ([[graft.drivers.DeltaDestination.appendDelta]]) instead of
    * rewriting its state: bytes moved per batch are O(batch), while
    * `morSnapshot` keeps serving the full reconciled view.
    *
    * Same machinery as [[execute]] where it matters: declared id
    * columns are cast per IdField, the transform sees the reconciled
    * history as `ctx.snapshot`, destination ids resolve through the
    * mapping table with dense generated ids extending the reconciled
    * max ([[assignGeneratedIds]]), and mappings are recorded per batch.
    *
    * Two halves, one code path: [[computeDelta]] reads, transforms and
    * evaluates the delta once (pinned and counted) and writes nothing;
    * its [[StagedDelta.commit]] then records the mapping and appends the
    * data. `executeDelta` is the one followed by the other. A caller
    * chaining stages may run a stage's commit while it computes the next
    * stage, as long as the next stage reads nothing the commit writes
    * ([[graft.streaming.StreamingCuration.runDagIncremental]]).
    *
    * Replay safety (exactly-once under foreachBatch retries): mappings
    * are recorded BEFORE the data append — the one ordering that makes
    * a crash between the two harmless. A replayed batch resolves its
    * ids through the mapping (never re-generating past rows it already
    * wrote), recomputes the same delta, and re-appends it; the
    * destination's latest-wins-per-key reconcile folds the duplicate
    * segment away. (`record` lands as one committed mapping-log
    * segment, or as a new generation behind a pointer flip, so a crash
    * mid-record leaves the old table.) The reverse
    * order would re-generate FRESH ids on replay — the same doc alive
    * under two keys.
    *
    * Returned result: `migrated` = delta rows written, `finalSnapshot` =
    * the persisted delta body (NOT the full view — incremental callers
    * chain stage deltas), orphans empty by definition.
    */
  def executeDelta(
      spark: SparkSession,
      migration: Migration,
      source: SourceDriver,
      dest: graft.drivers.DeltaDestination): MigrationResult =
    computeDelta(spark, migration, source, dest).commit()

  /** [[executeDelta]]'s compute half: everything up to, and not
    * including, the first durable write. `incoming` is pinned and
    * counted before any plan reads it, so the transform runs once per
    * row and the mapping and append plans scan the cached rows.
    */
  private[graft] def computeDelta(
      spark: SparkSession,
      migration: Migration,
      source: SourceDriver,
      dest: graft.drivers.DeltaDestination): StagedDelta = {
    val spec = migration.spec
    val destIdCols = spec.destinationIds.map(_.name)
    require(dest.snapshotIsStableAcrossWrites,
      s"executeDelta needs stable history snapshots (generation pointers) for ${spec.name}")

    val raw = source.read(spark, spec)
    val keyed = spec.sourceIds.foldLeft(raw)((df, f) =>
      df.withColumn(f.name, col(f.name).cast(f.idType.sparkType)))
    val snapshot = dest.morSnapshot(spark, spec)
    val ctx = new TransformContext(spark, spec, snapshot, references)
    val transformed = migration.transform(keyed, ctx)

    val hasNaturalIds = destIdCols.forall(transformed.columns.contains)
    val incoming = pin((
      if (hasNaturalIds) transformed
      else {
        // high-water mark off the MAPPING table, not the reconciled
        // destination view: the mapping is narrow (id tuples only), is
        // recorded before every data append (so it can only be AHEAD of
        // the state, never behind — exactly right to avoid id reuse
        // after a crash), and reading it costs one column scan instead
        // of reconciling the delta log
        val maxExisting: Long = mapper.load(spark, spec)
          .map(_.agg(max(col(s"${MappingStore.DestPrefix}${destIdCols.head}"))
            .cast("long")).head() match {
              case r if r.isNullAt(0) => 0L
              case r                  => r.getLong(0)
            }).getOrElse(0L)
        assignGeneratedIdsFrom(mapper.lookupDest(transformed, spec), spec, maxExisting)
      }
    ).persist())
    val written = incoming.count()

    val mappingRows = incoming.select(
      spec.sourceIds.map(f => col(f.name).as(s"${MappingStore.SourcePrefix}${f.name}")) ++
        spec.destinationIds.map(f => col(f.name).as(s"${MappingStore.DestPrefix}${f.name}")): _*)
    // body is a narrow projection of the persisted `incoming` — a second
    // persist would only duplicate the cache
    val body = incoming.select(
      (destIdCols ++ transformedValueCols(incoming, spec)).map(col): _*)
    val emptyOrphans = body.limit(0).select(destIdCols.map(col): _*)
    val result = MigrationResult(written, emptyOrphans, 0L, body,
      incoming.select(destIdCols.map(col): _*))
    new StagedDelta(result, () => {
      mapper.record(spark, spec, mappingRows, MappingStore.StatusMigrated)
      if (snapshot.isEmpty) dest.write(body, spec) // first batch publishes the base generation
      else if (written > 0) { dest.appendDelta(body, spec); () }
    })
  }

  /** Periodic orphan reconciliation for the incremental path — the
    * closing half of [[executeDelta]]'s IgnoreOrphans stance (r17
    * verdict task 3). A delta batch says nothing about ABSENCE, so the
    * per-batch path never reports orphans; run at the caller's cadence
    * (every N batches, nightly, before compaction), this reconcile
    * restores the reference's orphan semantics
    * (`DataMigrationExecutor.php:368-382`) without ever rescanning
    * history: destination keys in the reconciled view whose mapped
    * source key does NOT appear in `recentKeys` — the union of
    * source-id tuples seen within the caller's retention horizon — are
    * orphans, surfaced through the SAME keep/prune policy as the batch
    * path:
    *
    *   - [[PruneOrphans]]: deleted O(orphans) via a tombstone delta
    *     segment ([[graft.drivers.ParquetDestinationDriver.appendTombstones]]),
    *     never a state rewrite;
    *   - [[KeepOrphans]]: reported and recorded in the mapping table
    *     (all-NULL-source bookkeeping rows, `Executor.php:320-326`);
    *   - [[IgnoreOrphans]]: nothing reported.
    *
    * Kill/restart-safe: the reconcile derives only from published state
    * (the MOR view + the mapping table + the caller's durable
    * recent-key horizon), and a replayed prune appends a duplicate
    * tombstone segment that latest-wins-reconciles to the identical
    * view. A key whose delta re-arrives AFTER a prune is resurrected by
    * its later upsert segment — segment order is the truth.
    */
  def reconcileDeltaOrphans(
      spark: SparkSession,
      migration: Migration,
      recentKeys: DataFrame,
      dest: graft.drivers.DeltaDestination): MigrationResult = {
    val spec = migration.spec
    val destIdCols = spec.destinationIds.map(_.name)
    val snap = dest.morSnapshot(spark, spec).getOrElse(throw new IllegalStateException(
      s"orphan reconcile needs a published destination for ${spec.name}"))
    // IgnoreOrphans discards everything the reconcile would compute —
    // skip the snapshot/mapping/anti-join work entirely
    if (orphanPolicy == IgnoreOrphans) {
      val none = snap.limit(0).select(destIdCols.map(col): _*)
      return MigrationResult(0L, none, 0L, snap, none)
    }
    val keyedRecent = spec.sourceIds.foldLeft(
      recentKeys.select(spec.sourceIds.map(f => col(f.name)): _*))((df, f) =>
      df.withColumn(f.name, col(f.name).cast(f.idType.sparkType)))
    // resolve recent source keys to destination keys through the same
    // mapping the batches' rows took; unmapped recents (keys arriving
    // for the first time mid-horizon) resolve to NULL and drop out of
    // the anti-join's right side harmlessly
    val recentDest = mapper.lookupDest(keyedRecent, spec)
      .select(spec.destinationIds.map(f => col(s"${MappingStore.DestPrefix}${f.name}").as(f.name)): _*)
    val snapKeys = snap.select(destIdCols.map(col): _*)
    val orphans = pin(snapKeys
      .join(recentDest, joinCond(snapKeys, recentDest, destIdCols), "left_anti")
      .persist())
    val orphanCount = orphans.count()
    orphanPolicy match {
      case PruneOrphans if orphanCount > 0 =>
        dest match {
          case p: graft.drivers.ParquetDestinationDriver =>
            p.appendTombstones(orphans, spec); ()
          case other => throw new IllegalStateException(
            s"prune-on-reconcile needs a tombstone-capable sink, got ${other.getClass.getName}")
        }
      case KeepOrphans if orphanCount > 0 =>
        mapper.recordOrphansKept(spark, spec,
          orphans.select(spec.destinationIds.map(f =>
            col(f.name).as(s"${MappingStore.DestPrefix}${f.name}")): _*))
      case _ => ()
    }
    // IgnoreOrphans already early-returned above — everything past the
    // anti-join runs under Keep/Prune only
    MigrationResult(0L, orphans, orphanCount,
      dest.morSnapshot(spark, spec).get,
      orphans.limit(0))
  }

  /** Chunked execution — the set-oriented form of the reference's
    * `flush=true` per-row flushing
    * (`/root/reference/src/Annotations/DataMigration.php:96-105`,
    * `DataMigrationExecutor.php:212-214`), which exists so
    * self-referencing datasets can observe rows written earlier in the
    * same run. Here the source is split into `numChunks` ordered chunks
    * and merged sequentially: chunk i's transform sees a snapshot
    * containing chunks < i. Orphans are computed once against the
    * pre-run snapshot, exactly like the single-pass path, using *this
    * run's* incoming keys (a key mapped in a prior run but absent from
    * this source is still an orphan).
    *
    * Chunk labels are assigned without a global single-partition window:
    * a range repartition on the source keys plus sort-within-partitions
    * yields a total order, and `zipWithIndex` turns that into global
    * ranks via per-partition counts + a driver-side prefix sum — fully
    * parallel, so an ordered chunking of a 100 TB source never funnels
    * through one task.
    */
  def executeChunked(
      spark: SparkSession,
      migration: Migration,
      source: SourceDriver,
      dest: DestinationDriver,
      numChunks: Int): MigrationResult = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(numChunks >= 1, s"numChunks must be >= 1, got $numChunks")
    val spec = migration.spec
    val destIdCols = spec.destinationIds.map(_.name)
    // The final orphan pass compares against the PRE-run snapshot. With
    // generation pointers that view stays readable as chunk writes land
    // new generations; sinks without stable snapshots (CSV swap deletes
    // the old files, JDBC re-reads post-chunk state as "pre") need the
    // pre view checkpointed to disk before the first chunk writes.
    val pre = dest.snapshot(spark, spec).map(p =>
      if (dest.snapshotIsStableAcrossWrites) p else MigrationExecutor.barrier(p))
    val keyed = spec.sourceIds.foldLeft(source.read(spark, spec))((df, f) =>
      df.withColumn(f.name, col(f.name).cast(f.idType.sparkType)))
    val srcCols = spec.sourceIds.map(f => col(f.name))
    val ordered = keyed.repartitionByRange(srcCols: _*).sortWithinPartitions(srcCols: _*)
    val total = math.max(ordered.count(), 1L)
    val nC = numChunks.toLong
    val chunkSchema = StructType(ordered.schema.fields :+ StructField("__chunk", LongType))
    val chunked = spark.createDataFrame(
      ordered.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i * nC / total) },
      chunkSchema).persist()
    val inner = new MigrationExecutor(mapper, references, IgnoreOrphans)
    var migrated = 0L
    var runKeys: Option[DataFrame] = None
    var simulatedOut: Option[DataFrame] = None
    (0L until nC).foreach { c =>
      val chunkDf = chunked.filter(col("__chunk") === c).drop("__chunk")
      val chunkSource = new SourceDriver {
        def read(s: SparkSession, sp: MigrationSpec): DataFrame = chunkDf
      }
      val res = inner.execute(spark, migration, chunkSource, dest)
      migrated += res.migrated
      runKeys = Some(runKeys.fold(res.incomingKeys)(_.unionByName(res.incomingKeys)))
      simulatedOut = Some(simulatedOut.fold(res.finalSnapshot)(_.unionByName(res.finalSnapshot)))
    }
    // one orphan pass against the pre-run snapshot, as the single-pass
    // path does (`Executor.php:119,130-135`), keyed on the union of this
    // run's incoming keys — NOT the persistent mapping table, which still
    // carries keys from prior runs that must be reported as orphans.
    val thisRun = pin(runKeys.get.persist())
    val orphans = pre match {
      case None => thisRun.limit(0)
      case Some(p) =>
        p.join(thisRun, destIdCols.map(k => p(k) <=> thisRun(k)).reduce(_ && _), "left_anti")
    }
    val orphansPersisted = pin(orphans.persist())
    val orphanCount = orphansPersisted.count()
    // a snapshot-less sink (console / --simulate) has no post state to
    // prune or read back; the simulated output is the union of chunk
    // merges
    val post = dest.snapshot(spark, spec)
    val finalSnap = (orphanPolicy, post) match {
      case (PruneOrphans, Some(ps)) if orphanCount > 0 =>
        val pruned0 = ps.join(orphansPersisted,
          destIdCols.map(k => ps(k) <=> orphansPersisted(k)).reduce(_ && _), "left_anti")
        // the pruned plan reads the post snapshot this very write replaces
        // — reliable barrier, not best-effort persist (see execute step 6)
        val pruned =
          if (dest.overwriteIsReadSafe && dest.snapshotIsStableAcrossWrites) pin(pruned0.persist())
          else MigrationExecutor.barrier(pruned0)
        dest.write(pruned, spec)
        pruned
      case (KeepOrphans, _) if orphanCount > 0 =>
        mapper.recordOrphansKept(spark, spec,
          orphansPersisted.select(spec.destinationIds.map(f =>
            col(f.name).as(s"${MappingStore.DestPrefix}${f.name}")): _*))
        post.orElse(simulatedOut).get
      case _ => post.orElse(simulatedOut).get
    }
    chunked.unpersist()
    // the inner per-chunk executor's pins are caches over data already
    // written + recorded; release them here so a chunked run leaves only
    // this executor's own pins behind
    inner.release()
    // thisRun stays pinned until the caller releases: it is returned
    // (orphans + incomingKeys derive from it) and eagerly unpersisting
    // here would force every consumer through a chunk-pipeline recompute.
    MigrationResult(migrated, orphansPersisted, orphanCount, finalSnap, thisRun)
  }

  /** Run a set of migrations in dependency order
    * (`DataMigrationManager.php:271-326` + `MigrateCommand.php:181-205`).
    *
    * `parallelism > 1` runs independent DAG branches as concurrent Spark
    * jobs: migrations are grouped into dependency levels and each level's
    * members submit their jobs from a bounded thread pool (Spark's
    * scheduler interleaves them across the cluster). The reference runs
    * strictly serially; on a 1000-executor cluster serializing independent
    * migrations leaves most of the cluster idle between shuffles.
    */
  def executeAll(
      spark: SparkSession,
      migrations: Seq[Migration],
      sources: Migration => SourceDriver,
      dests: Migration => DestinationDriver,
      parallelism: Int = 1): Map[String, MigrationResult] = {
    val registry = new graft.spec.MigrationRegistry
    migrations.foreach(m => registry.add(m.spec))
    val byName = migrations.map(m => m.spec.name -> m).toMap
    def run(spec: MigrationSpec): (String, MigrationResult) = {
      val m = byName(spec.name)
      spec.name -> execute(spark, m, sources(m), dests(m))
    }
    if (parallelism <= 1) {
      val (ordered, _) = registry.resolveOrder(migrations.map(_.spec.name))
      ordered.map(run).toMap
    } else {
      import scala.concurrent.duration.Duration
      import scala.concurrent.{Await, ExecutionContext, Future}
      val (levels, _) = registry.resolveLevels(migrations.map(_.spec.name))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try levels.flatMap { level =>
        Await.result(Future.sequence(level.map(s => Future(run(s)))), Duration.Inf)
      }.toMap
      finally pool.shutdown()
    }
  }

  // Plain equality, deliberately: destination ids are key columns the
  // reference's IdField contract types as int|string (never null). This
  // path checks neither NULL nor duplicate keys before the write: a row
  // whose key is NULL matches nothing here, and duplicate keys surface
  // only on a keyed read-back (`readByIds`) or, for a merge-on-read
  // delta, in `appendDelta`'s duplicate-key probe. `===`
  // keeps the join keys identical to a bucketed destination's layout
  // columns, so the snapshot side of the orphan anti-join carries its
  // partitioning from the files; `<=>` would compile to composite keys
  // no bucket layout can serve.
  private def joinCond(l: DataFrame, r: DataFrame, keys: Seq[String]): Column =
    keys.map(k => l(k) === r(k)).reduce(_ && _)

  /** DB-generated ids, set-wise: rows with no mapped dest id get
    * `max(existing) + <dense global rank by source key>` — no per-row ORM
    * round trips (SURVEY §7.4 hard part), and no single-partition window:
    * a `Window.orderBy` with no partition key would funnel the *entire
    * first load* through one task (every row is unmapped on an initial
    * 100 TB load — exactly when this path runs). Instead the unmapped
    * rows are range-repartitioned + sorted on the source keys (a total
    * order across partitions) and ranked with `zipWithIndex`, which is
    * per-partition counts + a driver prefix sum — dense, stable across
    * re-runs (same key order ⇒ same rank), and fully parallel.
    * `monotonically_increasing_id` is not used because ids must stay
    * dense and stable across re-runs.
    */
  private[exec] def assignGeneratedIds(
      mapped: DataFrame, spec: MigrationSpec, snapshot: Option[DataFrame]): DataFrame = {
    require(spec.destinationIds.size == 1,
      "generated ids supported for single-column destination keys")
    val idCol = spec.destinationIds.head.name
    val maxExisting: Long = snapshot
      .map(_.agg(max(col(idCol)).cast("long")).head() match {
        case r if r.isNullAt(0) => 0L
        case r                  => r.getLong(0)
      }).getOrElse(0L)
    assignGeneratedIdsFrom(mapped, spec, maxExisting)
  }

  /** [[assignGeneratedIds]] with the id-space high-water mark supplied by
    * the caller — the delta path reads it off the (narrow) mapping table
    * instead of aggregating the reconciled destination view.
    */
  private[exec] def assignGeneratedIdsFrom(
      mapped: DataFrame, spec: MigrationSpec, maxExisting: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(spec.destinationIds.size == 1,
      "generated ids supported for single-column destination keys")
    val idField = spec.destinationIds.head
    val idCol = idField.name
    val destCol = s"${MappingStore.DestPrefix}$idCol"
    val spark = mapped.sparkSession
    // mapped rows keep their ids across re-runs; only unmapped rows rank
    val have = mapped.filter(col(destCol).isNotNull)
      .withColumn(idCol, col(destCol).cast(idField.idType.sparkType))
    val srcCols = spec.sourceIds.map(f => col(f.name))
    val ordered = mapped.filter(col(destCol).isNull)
      .repartitionByRange(srcCols: _*).sortWithinPartitions(srcCols: _*)
    val needSchema = StructType(ordered.schema.fields :+ StructField(idCol, LongType))
    val need = spark.createDataFrame(
      ordered.rdd.zipWithIndex().map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (maxExisting + 1L + i)) },
      needSchema)
      .withColumn(idCol, col(idCol).cast(idField.idType.sparkType))
    have.unionByName(need).drop(destCol)
  }

  private def transformedValueCols(df: DataFrame, spec: MigrationSpec): Seq[String] =
    df.columns.filterNot(spec.destinationIds.map(_.name).contains)
      .filterNot(spec.sourceIds.map(_.name).contains).toSeq
}

object MigrationExecutor {
  /** Reliable materialization barrier. `persist()+count()` is best-effort:
    * if cached partitions are evicted (or an executor is lost) while a
    * non-read-safe sink truncates/overwrites the destination, Spark
    * recomputes them from the already-mutated table — silent corruption.
    * An eager `checkpoint()` writes the result to the checkpoint FS and
    * truncates lineage, so later evaluation can never touch the
    * destination again. Checkpoint dir: `graft.checkpoint.dir` conf if
    * set (point it at a shared FS on a real cluster), else a session
    * temp dir.
    */
  private[graft] def barrier(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val dir = spark.conf.getOption("graft.checkpoint.dir").getOrElse(
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      sc.setCheckpointDir(dir)
    }
    df.checkpoint()
  }
}
