package graft.mapper

import graft.drivers.{GenerationPointer, ParquetDirs, SegmentLog}
import graft.spec.MigrationSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Persistent per-migration `sourceIds ↔ destIds` mapping table — parity
  * with the reference's side-SQLite mapper
  * (`/root/reference/src/DataMigration/DataMigrationMapper.php:24-30,90-135,189-257`):
  * columns `source_<k>…`, `dest_<k>…`, an `updated` timestamp and a
  * `status` ∈ {migrated, stub} (status constants `:28-30`).
  *
  * The reference does one SQL point SELECT per row (`:433-475`) — its
  * biggest scalability cliff. Here every lookup is a join and every
  * insert-vs-update decision (`:366-383`) is one set-wise merge, so a
  * 100 TB run does O(1) shuffles per migration instead of O(rows) round
  * trips. Tables are Parquet generations keyed by migration name
  * ("extends" shares the parent's table via `MigrationSpec.mappingKey`),
  * optionally hash-bucketed on the source ids (`buckets`).
  *
  * Once a non-bucketed table has a published generation, `record`
  * appends its stamped rows as one log segment `mlog_<gen>_<k>` instead
  * of rewriting the table — O(batch), like the reference's per-row
  * insert-or-update; reads apply the replace-by-key rule over
  * generation ⊎ log. A record that finds [[MappingStore.LogCompactAt]]
  * segments, or whose rows change the table's columns (a spec
  * widening), folds the log and its own rows into the next generation.
  */
/** @param keepGenerations when set, every write vacuums all but the
  *   newest N generation directories. Off by default: a vacuum is only
  *   safe when N exceeds the number of writes that can land while an
  *   older snapshot is still lazily referenced (e.g. `numChunks + 1`
  *   for chunked runs) — generation storage is otherwise unbounded,
  *   which is the operational trade a deployment must pick explicitly.
  * @param buckets opt-in 100 TB layout: when set, each generation is
  *   written `bucketBy(n, source-id columns)` + sorted, and reads
  *   re-attach the bucket metadata — so the upsert's mapping join and the
  *   merge's replace-by-key anti-join need NO exchange (and no sort) on
  *   the mapping side. Without it every run re-shuffles the whole
  *   accumulated mapping table, which grows with total migrated rows, not
  *   with the increment.
  */
final class MappingStore(
    basePath: String,
    keepGenerations: Option[Int] = None,
    buckets: Option[Int] = None) {
  import MappingStore._

  def tablePath(spec: MigrationSpec): String = s"$basePath/${spec.mappingKey}"

  private def currentGen(spark: SparkSession, spec: MigrationSpec): Option[String] =
    GenerationPointer.read(spark, tablePath(spec))

  /** Stable catalog identifier for one generation of one mapping table
    * (bucket metadata lives in the session catalog; the path keeps the
    * data portable either way).
    */
  private def catalogName(spec: MigrationSpec, gen: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(tablePath(spec).getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"graft_map_${spec.mappingKey.replaceAll("[^A-Za-z0-9_]", "_")}_${digest}_$gen"
  }

  def load(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] =
    loadRaw(spark, spec).map(raw => conform(spec, raw))

  /** Current generation (⊎ its log) WITHOUT conform — record() needs the
    * raw schema to know which id columns conform is about to widen in.
    */
  private def loadRaw(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] =
    currentGen(spark, spec).map { gen =>
      val dir = s"${tablePath(spec)}/$gen"
      buckets match {
        case None => withLog(spark, spec, gen, ParquetDirs.read(spark, dir))
        case Some(n) =>
          val table = catalogName(spec, gen)
          val parquetSchema = ParquetDirs.schema(spark, dir)
          val keyNames = spec.sourceIds.map(f => s"$SourcePrefix${f.name}")
          if (keyNames.exists(k => !parquetSchema.fieldNames.contains(k))) {
            // generation predates a spec widening: its bucket layout hashes
            // the OLD key set and the new key column isn't even in the data
            // files, so CLUSTERED BY the spec keys would both lie and fail.
            // Read plain; the next writeGen re-buckets on the full keys.
            ParquetDirs.read(spark, dir)
          } else {
            if (!spark.catalog.tableExists(table)) {
              // re-attach bucket metadata to an existing generation (e.g.
              // written by a previous session) — data files are unchanged
              spark.sql(
                s"""CREATE TABLE $table (${parquetSchema.toDDL}) USING parquet
                   |CLUSTERED BY (${keyNames.mkString(", ")}) SORTED BY (${keyNames.mkString(", ")}) INTO $n BUCKETS
                   |LOCATION '$dir'""".stripMargin)
            }
            spark.table(table)
          }
      }
    }

  /** Schema conform — the reference's `conformMappingTable`
    * (`/root/reference/src/DataMigration/DataMigrationMapper.php:189-257`,
    * diff-based CREATE/ALTER run before every migration): align the
    * stored generation with the spec-declared id columns at READ time.
    *
    *  - An id column the spec declares but the generation lacks (a user
    *    added an id field between runs) is WIDENED in: added as a typed
    *    NULL — the exact effect of the reference's nullable
    *    `ALTER TABLE ADD COLUMN` (`conformMappingColumn`, `:271-300`),
    *    made durable by the next generation write (the merge unions the
    *    conformed view with the new rows).
    *  - An id column present with a DIFFERENT type is an explicit
    *    [[MappingSchemaMismatchException]] — the reference would issue a
    *    lossy ALTER here; a distributed engine must not silently rewrite
    *    petabytes of mapping state, so the incompatible change fails
    *    loudly with both types named instead of surfacing later as an
    *    unreadable generation.
    *  - Extra columns (id fields REMOVED from the spec) are preserved
    *    untouched, like the reference (conform only ever adds).
    */
  private def conform(spec: MigrationSpec, existing: DataFrame): DataFrame = {
    val want = checkIdTypes(spec, existing.schema)
    val have = existing.columns.toSet
    want.foldLeft(existing) { case (df, (name, t)) =>
      if (have.contains(name)) df else df.withColumn(name, lit(null).cast(t))
    }
  }

  /** The spec's id columns with their types, after checking that none
    * present in `stored` has a different type (conform's refusal).
    */
  private def checkIdTypes(spec: MigrationSpec,
      stored: org.apache.spark.sql.types.StructType): Seq[(String, org.apache.spark.sql.types.DataType)] = {
    val want: Seq[(String, org.apache.spark.sql.types.DataType)] =
      spec.sourceIds.map(f => (s"$SourcePrefix${f.name}", f.idType.sparkType)) ++
        spec.destinationIds.map(f => (s"$DestPrefix${f.name}", f.idType.sparkType))
    val have = stored.map(f => f.name -> f.dataType).toMap
    want.foreach { case (name, t) =>
      have.get(name).filter(_ != t).foreach { stored =>
        throw new MappingSchemaMismatchException(
          s"mapping table ${spec.mappingKey}: id column $name is $stored " +
            s"in the current generation but the spec declares $t — an " +
            "in-place type change is not conformable; migrate the " +
            "mapping table explicitly (or restore the old id type)")
      }
    }
    want
  }

  /** Generation `gen` with its committed log segments applied, oldest
    * first, each under the replace-by-key rule of [[record]] — exactly
    * the records a full rewrite would have merged, merged at read time.
    * A record folds the log as soon as it holds a segment
    * ([[MappingStore.LogCompactAt]]), so a reader sees at most one
    * unless records of two processes interleave. A segment is only
    * appended when its columns equal the generation's, so no column is
    * widened here.
    */
  private def withLog(spark: SparkSession, spec: MigrationSpec, gen: String,
      base: DataFrame): DataFrame = {
    val src = base.columns.filter(_.startsWith(SourcePrefix)).toSeq
    val dst = base.columns.filter(_.startsWith(DestPrefix)).toSeq
    SegmentLog.committed(spark, tablePath(spec), LogPrefix, gen)
      .map(k => SegmentLog.read(spark, tablePath(spec), LogPrefix, gen, k))
      .foldLeft(base)((acc, seg) => replaceByKey(acc, seg, src, dst, widened = Set.empty))
  }

  private def anyNonNull(cols: Seq[String]): Column =
    cols.map(c => col(c).isNotNull).reduce(_ || _)

  /** `existing` with every row that `incoming` replaces removed, plus
    * `incoming` — the one replace-by-key rule of the table.
    *
    * Replace-by-key must distinguish the two row classes the table
    * holds: keyed mappings (replaced when the same source tuple
    * re-arrives) and orphan bookkeeping rows (ALL-null source ids — the
    * recordOrphansKept invariant, `DataMigrationExecutor.php:320-326`)
    * which all share the "key" NULL — a null-safe anti-join on source
    * ids alone would let ONE incoming orphan row wipe EVERY previously
    * kept orphan. Orphan rows are identified by their destination ids
    * instead. "Keyed" means AT LEAST ONE non-null source id, NOT all
    * non-null: a row recorded before a spec widening has NULL in the
    * added column but is still a keyed mapping, not orphan bookkeeping.
    * The anti-joins are plain equality (bucket-layout-served, no
    * exchange) except on the `widened` columns, where a stored NULL acts
    * as a wildcard.
    */
  private def replaceByKey(existing: DataFrame, incoming: DataFrame,
      src: Seq[String], dst: Seq[String], widened: Set[String]): DataFrame = {
    val srcKeyed = anyNonNull(src)
    val existKeyed = existing.filter(srcKeyed)
    val existOrphan = existing.filter(!srcKeyed)
    val newKeyed = incoming.filter(srcKeyed)
    val newOrphan = incoming.filter(!srcKeyed)
    val keepKeyed = existKeyed.join(newKeyed,
      src.map { c =>
        val eq = existKeyed(c) === newKeyed(c)
        if (widened.contains(c)) eq || existKeyed(c).isNull else eq
      }.reduce(_ && _),
      "left_anti")
    val keepOrphan = existOrphan.join(newOrphan,
      dst.map(c => existOrphan(c) === newOrphan(c)).reduce(_ && _),
      "left_anti")
    keepKeyed.unionByName(keepOrphan).unionByName(incoming)
  }

  /** Left-join `df` (carrying the source id columns) against the mapping
    * table, adding `dest_*` columns (null where unmapped) — the set-wise
    * form of `getDestIdsFromSourceIds` (`DataMigrationMapper.php:433-475`).
    * The mapping table has one row per migrated entity, so it is NOT
    * guaranteed small: no broadcast hint — Catalyst/AQE broadcasts when the
    * size estimate allows and falls back to sort-merge otherwise. Null-safe
    * equality mirrors the reference's `IS NULL` special-casing (`:394-401`).
    */
  def lookupDest(df: DataFrame, spec: MigrationSpec): DataFrame =
    load(df.sparkSession, spec) match {
      case None => spec.destinationIds.foldLeft(df)((acc, f) =>
        acc.withColumn(s"$DestPrefix${f.name}", lit(null).cast(f.idType.sparkType)))
      case Some(m) =>
        val mapped = m.select(
          spec.sourceIds.map(f => col(s"$SourcePrefix${f.name}")) ++
            spec.destinationIds.map(f => col(s"$DestPrefix${f.name}")): _*)
        // bucketed layout: plain equality keeps the join keys identical to
        // the bucket partitioning columns, so the mapping-side exchange
        // (and sort) are elided. Null-safe equality would compile to
        // composite join keys (coalesce+isnull) that no bucket layout can
        // satisfy. The semantic delta only touches degenerate null-keyed
        // probe rows: under `===` they map to nothing instead of matching
        // orphan bookkeeping rows — ids are key columns, so real probes
        // are non-null. (The mapping SIDE does hold null-keyed rows —
        // recordOrphansKept writes source_*=NULL bookkeeping rows through
        // writeGen's bucketBy on those same columns — but a null-keyed
        // probe matching them is not behavior any caller relies on:
        // lookupDest resolves real source rows, whose key columns the
        // executor casts/extracts as non-null. Do not "fix" this to `<=>`;
        // it would forfeit the bucket-join elision for no semantic gain.)
        val cond = spec.sourceIds
          .map(f => if (buckets.isDefined) df(f.name) === mapped(s"$SourcePrefix${f.name}")
                    else df(f.name) <=> mapped(s"$SourcePrefix${f.name}"))
          .reduce(_ && _)
        df.join(mapped, cond, "left")
          .drop(spec.sourceIds.map(f => s"$SourcePrefix${f.name}"): _*)
    }

  /** Reverse lookup: left-join `df` (carrying the DESTINATION id
    * columns) against the mapping table, adding `source_*` columns
    * (null where unmapped) — the set-wise form of
    * `getSourceIdsFromDestIds` (`DataMigrationMapper.php:477-519`),
    * used when auditing destination rows back to their origin.
    */
  def lookupSource(df: DataFrame, spec: MigrationSpec): DataFrame =
    load(df.sparkSession, spec) match {
      case None => spec.sourceIds.foldLeft(df)((acc, f) =>
        acc.withColumn(s"$SourcePrefix${f.name}", lit(null).cast(f.idType.sparkType)))
      case Some(m) =>
        val mapped = m.select(
          spec.destinationIds.map(f => col(s"$DestPrefix${f.name}")) ++
            spec.sourceIds.map(f => col(s"$SourcePrefix${f.name}")): _*)
        val cond = spec.destinationIds
          .map(f => df(f.name) <=> mapped(s"$DestPrefix${f.name}"))
          .reduce(_ && _)
        df.join(mapped, cond, "left")
          .drop(spec.destinationIds.map(f => s"$DestPrefix${f.name}"): _*)
    }

  /** Insert-or-update a batch of mappings: rows in `incoming` replace
    * existing rows with the same source-id tuple, everything else is
    * preserved; `updated` is stamped and `status` set — set-wise parity
    * with `addMapping` (`DataMigrationMapper.php:90-135`). `incoming`
    * must carry `source_*` and `dest_*` columns.
    *
    * On a non-bucketed table with a published generation whose columns
    * the stamped rows match, the rows land as one log segment: O(batch)
    * bytes, replace-by-key applied by the readers. Otherwise — the first
    * record, a bucketed table, a full log, or rows that widen the table
    * — generation ⊎ log ⊎ rows merge into the next generation.
    */
  def record(spark: SparkSession, spec: MigrationSpec, incoming: DataFrame, status: String): Unit =
    // serialize record per mapping table: `extends` siblings share the
    // parent's table and may run concurrently under
    // executeAll(parallelism > 1)
    MappingStore.lockFor(tablePath(spec)).synchronized {
      val stamped = incoming
        .withColumn(UpdatedCol, current_timestamp())
        .withColumn(StatusCol, lit(status))
      def shape(s: org.apache.spark.sql.types.StructType) = s.map(f => f.name -> f.dataType).toMap
      val appendTo = currentGen(spark, spec).filter(_ => buckets.isEmpty).filter { gen =>
        val stored = ParquetDirs.schema(spark, s"${tablePath(spec)}/$gen")
        checkIdTypes(spec, stored) // conform's refusal of a changed id type holds on appends too
        shape(stored) == shape(stamped.schema) &&
          SegmentLog.committed(spark, tablePath(spec), LogPrefix, gen).size < LogCompactAt
      }
      appendTo match {
        case Some(gen) => SegmentLog.append(stamped, tablePath(spec), LogPrefix, gen)
        case None =>
          val merged = loadRaw(spark, spec) match {
            case None => stamped
            case Some(raw) =>
              // id columns conform is widening in THIS merge: pre-widening
              // keyed rows carry NULL there, and the replace-by-key match
              // must treat that NULL as "recorded before the column existed"
              // (matches any incoming value), or a re-arriving source key
              // would be appended next to its own stale row forever.
              val widenedSrc = spec.sourceIds.map(f => s"$SourcePrefix${f.name}")
                .filterNot(raw.columns.contains).toSet
              replaceByKey(conform(spec, raw), stamped,
                spec.sourceIds.map(f => s"$SourcePrefix${f.name}"),
                spec.destinationIds.map(f => s"$DestPrefix${f.name}"), widenedSrc)
          }
          writeGen(spark, spec, merged)
      }
    }

  /** Orphan-keep bookkeeping: mapping rows whose source ids are all NULL
    * (`DataMigrationExecutor.php:320-326`). */
  def recordOrphansKept(spark: SparkSession, spec: MigrationSpec, destIds: DataFrame): Unit = {
    val incoming = spec.sourceIds.foldLeft(destIds)((acc, f) =>
      acc.withColumn(s"$SourcePrefix${f.name}", lit(null).cast(f.idType.sparkType)))
    record(spark, spec, incoming, StatusMigrated)
  }

  private def writeGen(spark: SparkSession, spec: MigrationSpec, df: DataFrame): Unit = {
    val table = new org.apache.hadoop.fs.Path(tablePath(spec))
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = currentGen(spark, spec)
    val next = prev match {
      case None => "gen0"
      case Some(g) => s"gen${g.stripPrefix("gen").toLong + 1}"
    }
    buckets match {
      case None =>
        ParquetDirs.write(df, s"${tablePath(spec)}/$next", SaveMode.Overwrite)
      case Some(n) =>
        val keys = spec.sourceIds.map(f => s"$SourcePrefix${f.name}")
        // pre-partition on the bucket key so the write itself is spread
        // over n parallel tasks emitting one file per bucket
        df.repartition(n, keys.map(col): _*)
          .write.mode(SaveMode.Overwrite)
          .bucketBy(n, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
          .option("path", s"${tablePath(spec)}/$next")
          .saveAsTable(catalogName(spec, next))
    }
    GenerationPointer.publish(spark, tablePath(spec), next)
    // the superseded generation's catalog entry is metadata-only (external
    // table): drop it; its data files stay for lazy readers until vacuum
    if (buckets.isDefined)
      prev.foreach(g => spark.sql(s"DROP TABLE IF EXISTS ${catalogName(spec, g)}"))
    keepGenerations.foreach(k =>
      GenerationVacuum.vacuum(fs, table, k))
  }
}

/** Shared generation-directory vacuum for generation-pointer stores: a
  * vacuumed generation takes its segment logs with it.
  * `protected_` generations (named tags — the Iceberg tag semantic) are
  * never deleted regardless of age: a vacuum that could silently drop a
  * tagged baseline would make tags decorative.
  */
private[graft] object GenerationVacuum {
  def vacuum(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, keep: Int,
      protected_ : Set[Long] = Set.empty): Unit = {
    require(keep >= 1, "must keep at least the current generation")
    val dirs = fs.listStatus(base).toSeq.filter(_.isDirectory).map(_.getPath)
    val gens = dirs
      .filter(_.getName.startsWith("gen"))
      .map(p => (p.getName.stripPrefix("gen").toLong, p))
      .sortBy(_._1)
    gens.dropRight(keep)
      .filterNot { case (g, _) => protected_.contains(g) }
      .foreach { case (g, p) =>
        fs.delete(p, true)
        // the segment logs bound to it (`mordelta_gen<g>_<k>`, `mlog_gen<g>_<k>`)
        dirs.filter(d => SegmentLog.boundTo(d.getName, s"gen$g")).foreach(fs.delete(_, true))
      }
  }
}

/** An id column's stored type contradicts the spec's declaration — the
  * one mapping-schema change `conform` refuses to apply implicitly.
  */
final class MappingSchemaMismatchException(msg: String)
  extends RuntimeException(msg)

object MappingStore {
  private val locks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private def lockFor(path: String): Object = locks.getOrElseUpdate(path, new Object)

  val SourcePrefix = "source_"
  val DestPrefix = "dest_"
  val UpdatedCol = "updated"
  val StatusCol = "status"
  val StatusMigrated = "migrated" // DataMigrationMapper.php:28-30
  val StatusStub = "stub"

  /** Directory prefix of a table's record log ([[SegmentLog]]). */
  private val LogPrefix = "mlog"

  /** A record that finds this many committed log segments folds the log
    * into the next generation instead of appending to it. Measured on a
    * 12-batch `stream_curation` stream (BENCH_NOTES): every read of
    * generation ⊎ log pays the merge the append skipped, and a curation
    * stage reads its mapping about twice per record, so with folds at 2
    * or 8 segments the batches whose readers saw 2 or more segments ran
    * slower than the full rewrite, and each fold stalled its batch for
    * 26–76 s. At 1 a table holds at most one segment and a stage's
    * records alternate append, fold: the fold batches run ~1.2× the full
    * rewrite's, the append batches ~0.63×.
    */
  val LogCompactAt = 1
}
