package graft.drivers

import graft.spec.{MigrationSpec, NonUniqueKeyException}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** A destination is a keyed read/write store — the Spark-native
  * equivalent of `DestinationDriverInterface`
  * (`/root/reference/src/Drivers/DestinationDriverInterface.php:26-81`).
  *
  * The reference's point-wise surface (`read(ids)`, `readMultiple`,
  * `write(entity)`) becomes set-oriented: `snapshot` returns the whole
  * current destination as a DataFrame (lazily; Catalyst prunes), keyed
  * reads become joins in the executor, and `write` receives the complete
  * merged snapshot. `flush` semantics (temp file + atomic swap,
  * `CsvDestinationDriver.php:198-203`) are inherited from Spark's
  * `FileCommitProtocol` for file sinks.
  */
trait DestinationDriver {
  /** Current destination contents, or None when nothing exists yet. */
  def snapshot(spark: SparkSession, spec: MigrationSpec): Option[DataFrame]

  /** Distinct destination key tuples currently present
    * (`getExistingIds`, `DestinationDriverInterface.php:26-38`).
    */
  def existingIds(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] =
    snapshot(spark, spec).map { df =>
      df.select(spec.destinationIds.map(f => col(f.name)): _*).distinct()
    }

  /** Overwrite the destination with the merged snapshot. */
  def write(df: DataFrame, spec: MigrationSpec): Unit

  /** Whether `write` may safely consume a plan that still reads this
    * destination's current contents (the executor's merged snapshot
    * always does on an update run). Sinks that stage into a fresh
    * location and swap a pointer/directory last (parquet generations,
    * CSV stage+rename) or that never truncate what they read (JDBC
    * merge mode, console) return true; anything that overwrites its own
    * input in place must return false so the executor materializes the
    * plan first.
    */
  def overwriteIsReadSafe: Boolean = false

  /** Whether a `snapshot` DataFrame obtained BEFORE a `write` remains
    * evaluable AFTER it. Distinct from [[overwriteIsReadSafe]]: a CSV
    * stage+swap can safely *consume* a plan reading the destination (the
    * plan drains while staging), but the swap deletes the files backing
    * any other lazy plan over the old snapshot — evaluating it later
    * throws FileNotFoundException; a JDBC in-place write silently re-reads
    * post-write state. Only sinks that keep old generations readable
    * (parquet generation pointers) or have no snapshot at all (console)
    * return true; the executor materializes all snapshot-derived results
    * before writing otherwise.
    */
  def snapshotIsStableAcrossWrites: Boolean = false

  /** Whether stub rows may be written ahead of their real migration
    * (`/root/reference/src/Annotations/Driver.php:24-42`; only the
    * Doctrine sink declares true in the reference).
    */
  def supportsStubs: Boolean = false

  /** Keyed read-back, erroring if a key matches >1 row — parity with the
    * CSV sink's uniqueness guard
    * (`CsvDestinationDriver.php:135-139`).
    */
  def readByIds(spark: SparkSession, spec: MigrationSpec, ids: Map[String, Any]): Option[org.apache.spark.sql.Row] =
    snapshot(spark, spec).flatMap { df =>
      val pred = ids.map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
      val rows = df.filter(pred).limit(2).collect()
      if (rows.length > 1)
        throw new NonUniqueKeyException(s"${rows.length}+ rows match ids $ids in ${spec.destination}")
      rows.headOption
    }
}

/** A destination that can absorb keyed micro-batch DELTAS without
  * rewriting its full state — the contract
  * [[graft.exec.MigrationExecutor.executeDelta]] needs: `appendDelta`
  * lands O(batch) bytes as a merge-on-read log segment, `morSnapshot`
  * serves the reconciled view (published generation ⊎ delta log,
  * latest segment wins per destination key). The parquet
  * generation-pointer sink implements it natively; test harnesses wrap
  * one with failure injection.
  */
trait DeltaDestination extends DestinationDriver {
  /** Append a keyed delta (each destination key at most once); returns
    * the log segment index. Replays of the same delta land new segments
    * with the same keys — idempotent under `morSnapshot`'s latest-wins
    * reconcile.
    */
  def appendDelta(df: DataFrame, spec: MigrationSpec): Long

  /** The reconciled state: published snapshot merged with the delta log. */
  def morSnapshot(spark: SparkSession, spec: MigrationSpec): Option[DataFrame]
}

private[drivers] object DestPath {
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

/** Staged rename-aside commit shared by the file sinks (CSV/JSON/ORC) —
  * the set-oriented analogue of the reference's temp-file + atomic-copy
  * flush (`CsvDestinationDriver.php:78-79,198-203`). The write stages into
  * a hidden sibling directory, the current output is moved aside (never
  * deleted first — a crash between a delete and a rename would leave NO
  * destination), the stage is renamed into place, and only then is the old
  * output dropped. Every failure point leaves either the old or the new
  * data in place, and errors name the stage path for manual recovery.
  */
private[drivers] object StagedCommit {
  def swap(spark: SparkSession, destPath: String, label: String)(
      writeStage: String => Unit): Unit = {
    val dest = new org.apache.hadoop.fs.Path(destPath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(dest.getParent, s".${dest.getName}__stage")
    if (fs.exists(stage)) fs.delete(stage, true)
    writeStage(stage.toString)
    val old = new org.apache.hadoop.fs.Path(dest.getParent, s".${dest.getName}__old")
    if (fs.exists(old)) fs.delete(old, true)
    val hadDest = fs.exists(dest)
    if (hadDest && !fs.rename(dest, old))
      throw new java.io.IOException(
        s"failed to move current $label output aside ($dest -> $old); staged output left at $stage")
    if (!fs.rename(stage, dest)) {
      if (hadDest) fs.rename(old, dest) // restore the previous output
      throw new java.io.IOException(
        s"failed to commit $label output to $dest; staged output left at $stage")
    }
    if (hadDest) fs.delete(old, true)
  }
}

/** Parquet sink: snapshot-overwrite model. Writes go to a fresh
  * generation directory and the `current` pointer flips last, so a
  * snapshot can be read (for merge) while its replacement is being
  * written — the set-oriented analogue of the reference's temp-file +
  * atomic-swap flush (`CsvDestinationDriver.php:78-79,198-203`).
  */
/** @param keepGenerations opt-in vacuum: every write deletes all but the
  *   newest N generation dirs. Only safe when N exceeds the writes that
  *   can land while an older snapshot is still lazily referenced (chunked
  *   runs reference the pre-run generation across `numChunks` writes, so
  *   N must be > numChunks there); unbounded growth otherwise.
  */
/** @param writePartitions opt-in compaction: coalesce the merged
  *   snapshot to N files per generation — the small-files control for a
  *   sink whose upstream merge ran at shuffle width (without it a
  *   1000-partition merge writes 1000 files per generation forever).
  *   `coalesce`, not `repartition`: narrows the last stage, no shuffle.
  * @param buckets opt-in 100 TB layout (exclusive with writePartitions):
  *   each generation is written `bucketBy(n, destination ids)` + sorted,
  *   and `snapshot` re-attaches the bucket metadata — so the snapshot
  *   side of the executor's orphan anti-join and update read-back joins
  *   carries its partitioning from the files, no exchange, no sort.
  */
/** @param optimistic opt-in compare-and-swap publishing for MULTIPLE
  *   CONCURRENT WRITERS sharing one destination. Without it, two
  *   executors upserting the same table race last-wins: each merges
  *   against the snapshot it read at run start, and the second pointer
  *   flip silently drops every row the first committed (lost update).
  *   With it, `snapshot()` records the generation it served as this
  *   writer's BASE, and `write()` (a) claims its generation number
  *   through an atomic create-no-overwrite marker so two stagers can
  *   never clobber one directory, and (b) flips `_CURRENT` only if the
  *   published generation still equals the base — the loser's candidate
  *   is aborted and [[graft.spec.ConcurrentPublishException]] tells it
  *   to re-read, re-merge, retry. One driver instance per writer
  *   transaction, and every writer of a shared destination must opt in
  *   (a non-optimistic writer bypasses the claim protocol).
  */
final class ParquetDestinationDriver(
    stubs: Boolean = false,
    keepGenerations: Option[Int] = None,
    writePartitions: Option[Int] = None,
    buckets: Option[Int] = None,
    optimistic: Boolean = false) extends DestinationDriver with DeltaDestination {
  require(writePartitions.isEmpty || buckets.isEmpty,
    "bucketed generations already fix the file count at the bucket count")
  require(!optimistic || buckets.isEmpty,
    "optimistic publishing is for non-bucketed generation sinks (bucketed publishes go through the catalog)")

  /** The generation `snapshot()` last served per base path — the base an
    * optimistic `write()` CASes against (None = observed-empty).
    */
  private val observedBase =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Long]]()
  override def supportsStubs: Boolean = stubs
  override def overwriteIsReadSafe: Boolean = true // generation pointer
  override def snapshotIsStableAcrossWrites: Boolean = true // old gens survive

  private val TombstoneCol = ParquetDestinationDriver.TombstoneCol
  private val DeltaPrefix = ParquetDestinationDriver.DeltaPrefix

  private def currentGen(spark: SparkSession, base: String): Option[String] =
    GenerationPointer.read(spark, base)

  private def catalogName(base: String, gen: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(base.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"graft_dest_${digest}_$gen"
  }

  def snapshot(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] = {
    val base = UriSchemes.path(spec.destination)
    val current = currentGen(spark, base)
    // the moment of observation IS the CAS base: the executor merges
    // against this snapshot, so this (not write time, by when a rival
    // may already have published) is what the pointer must still equal
    if (optimistic) observedBase.put(base, current.map(_.stripPrefix("gen").toLong))
    current.map { g =>
      val dir = s"$base/$g"
      buckets match {
        case None => ParquetDirs.read(spark, dir)
        case Some(n) =>
          val table = catalogName(base, g)
          if (!spark.catalog.tableExists(table)) {
            val schema = ParquetDirs.schema(spark, dir).toDDL
            val keys = spec.destinationIds.map(_.name).mkString(", ")
            spark.sql(
              s"""CREATE TABLE $table ($schema) USING parquet
                 |CLUSTERED BY ($keys) SORTED BY ($keys) INTO $n BUCKETS
                 |LOCATION '$dir'""".stripMargin)
          }
          spark.table(table)
      }
    }
  }

  /** Time travel: read a specific retained generation directly —
    * generation directories survive until an explicit vacuum, and the
    * `_CURRENT` pointer only names the newest, so every older snapshot
    * stays readable at zero storage cost beyond what the sink already
    * keeps. The lakehouse pattern: audits and incremental diffs read
    * `gen N-1` while writers append `gen N+1`.
    */
  def snapshotAt(spark: SparkSession, spec: MigrationSpec, gen: Long): Option[DataFrame] = {
    val base = UriSchemes.path(spec.destination)
    val dir = new org.apache.hadoop.fs.Path(base, s"gen$gen")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) Some(ParquetDirs.read(spark, dir.toString)) else None
  }

  /** The PUBLISHED generation number (what `_CURRENT` points at), if
    * any — the observable commit epoch. Generation numbers are monotonic
    * by the directory-listing rule (write/stage always take max+1), so
    * comparing two published numbers orders two commits; [[TxnPublish]]'s
    * recovery and the optimistic [[publishIfCurrent]] both lean on this.
    */
  def currentGeneration(spark: SparkSession, spec: MigrationSpec): Option[Long] =
    currentGen(spark, UriSchemes.path(spec.destination))
      .map(_.stripPrefix("gen").toLong)

  /** Tag a RETAINED generation with a stable name — the Iceberg tag
    * semantic on the generation sink: a named snapshot that (a) reads
    * by name ([[snapshotAtTag]]) without anyone remembering generation
    * numbers, (b) survives `keepGenerations` vacuums regardless of age
    * (tag-protected — an N-newest policy that silently dropped a tagged
    * baseline would make tags decorative), and (c) anchors rollback
    * ([[rollbackToTag]]). Re-tagging an existing name MOVES the tag
    * (Iceberg's replace-tag). One O(1) driver-side file per tag.
    *
    * Deliberate exception: [[erase]]'s purge does NOT honor tags —
    * right-to-erasure means the bytes become unreachable everywhere,
    * and a tag must not be able to retain erased rows.
    */
  def tag(spark: SparkSession, spec: MigrationSpec, name: String, gen: Long): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"tag name '$name' must be [A-Za-z0-9._-]+ (it becomes a file name)")
    require(generations(spark, spec).contains(gen),
      s"cannot tag non-retained generation $gen")
    val base = UriSchemes.path(spec.destination)
    val f = new org.apache.hadoop.fs.Path(base, s"_tag_$name")
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(f, true)
    try out.write(s"gen$gen".getBytes("UTF-8")) finally out.close()
  }

  /** All tags: name → generation number. */
  def tags(spark: SparkSession, spec: MigrationSpec): Map[String, Long] = {
    val base = new org.apache.hadoop.fs.Path(UriSchemes.path(spec.destination))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Map.empty
    else fs.listStatus(base).toSeq
      .filter(_.getPath.getName.startsWith("_tag_"))
      .map { st =>
        val in = fs.open(st.getPath)
        val gen =
          try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
          finally in.close()
        st.getPath.getName.stripPrefix("_tag_") -> gen.stripPrefix("gen").toLong
      }.toMap
  }

  /** Delete a tag (the generation itself stays until vacuum). Loud on a
    * missing tag — silently "dropping" a typo'd name hides mistakes.
    */
  def dropTag(spark: SparkSession, spec: MigrationSpec, name: String): Unit = {
    val base = UriSchemes.path(spec.destination)
    val f = new org.apache.hadoop.fs.Path(base, s"_tag_$name")
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(f), s"no such tag: $name")
    if (!fs.delete(f, false))
      throw new java.io.IOException(s"could not delete tag $name at $f")
  }

  /** Read the generation a tag names (None if the tag does not exist). */
  def snapshotAtTag(spark: SparkSession, spec: MigrationSpec, name: String): Option[DataFrame] =
    tags(spark, spec).get(name).flatMap(g => snapshotAt(spark, spec, g))

  /** [[rollback]] anchored by tag name instead of generation number. */
  def rollbackToTag(spark: SparkSession, spec: MigrationSpec, name: String): Unit =
    rollback(spark, spec, tags(spark, spec).getOrElse(name,
      throw new IllegalArgumentException(s"no such tag: $name")))

  // ---- branches (Iceberg/Nessie-style write isolation) --------------

  /** Fork a named BRANCH from a retained generation — the write-side
    * sibling of a tag: while a tag is a frozen name, a branch is a
    * second, independently-advancing pointer. Writers target the branch
    * ([[writeToBranch]]) while every production reader keeps following
    * `_CURRENT`; when the experiment proves out, [[fastForward]]
    * publishes the branch head to main in one atomic flip — the
    * multi-write generalization of WAP (stage → audit → publish), whose
    * single staged generation is just a one-commit branch.
    *
    * The branch records its BASE (the main generation it forked from):
    * fast-forward is only legal while main still sits at that base —
    * ancestry by construction, no history graph needed. If main moved,
    * the merge conflicts loudly and the caller re-forks and re-applies
    * (the optimistic-concurrency discipline, at branch granularity).
    * Branch heads and bases are vacuum-protected like tags.
    */
  def createBranch(spark: SparkSession, spec: MigrationSpec, name: String, fromGen: Long): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"branch name '$name' must be [A-Za-z0-9._-]+ (it becomes a file name)")
    require(generations(spark, spec).contains(fromGen),
      s"cannot branch from non-retained generation $fromGen")
    require(!branches(spark, spec).contains(name), s"branch $name already exists")
    writeBranchFile(spark, spec, name, head = fromGen, base = fromGen)
  }

  /** All branches: name → (head generation, base generation). */
  def branches(spark: SparkSession, spec: MigrationSpec): Map[String, (Long, Long)] = {
    val base = new org.apache.hadoop.fs.Path(UriSchemes.path(spec.destination))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Map.empty
    else fs.listStatus(base).toSeq
      .filter(_.getPath.getName.startsWith("_branch_"))
      .map { st =>
        val in = fs.open(st.getPath)
        val body =
          try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
          finally in.close()
        val Array(h, b) = body.split("\t")
        st.getPath.getName.stripPrefix("_branch_") ->
          ((h.stripPrefix("gen").toLong, b.stripPrefix("base:gen").toLong))
      }.toMap
  }

  /** Read a branch's head snapshot. */
  def snapshotAtBranch(spark: SparkSession, spec: MigrationSpec, name: String): Option[DataFrame] =
    branches(spark, spec).get(name).flatMap { case (h, _) => snapshotAt(spark, spec, h) }

  /** Write the next commit on a branch: a fresh generation directory
    * (numbers stay globally unique — the shared listing rule), with the
    * BRANCH pointer flipping instead of `_CURRENT`. Main readers see
    * nothing; the branch's own history is linear by construction (one
    * pointer, advanced by its writer). Schema evolution is validated
    * against the branch head.
    */
  def writeToBranch(df: DataFrame, spec: MigrationSpec, name: String): Unit = {
    require(buckets.isEmpty, "branches are for non-bucketed generation sinks")
    val spark = df.sparkSession
    val (head, branchBase) = branches(spark, spec).getOrElse(name,
      throw new IllegalArgumentException(s"no such branch: $name"))
    val basePath = UriSchemes.path(spec.destination)
    SchemaEvolution.validateEvolution(
      ParquetDirs.schema(spark, s"$basePath/gen$head"), df.schema,
      s"destination ${spec.name} ($basePath, branch $name head gen$head)")
    val next = generations(spark, spec).lastOption.getOrElse(-1L) + 1
    ParquetDirs.write(writePartitions.fold(df)(df.coalesce), s"$basePath/gen$next", SaveMode.Overwrite)
    writeBranchFile(spark, spec, name, head = next, base = branchBase)
  }

  /** Publish a branch to main: atomic `_CURRENT` flip to the branch
    * head, legal only while main still sits at the branch's fork base
    * (otherwise rows committed to main since the fork would silently
    * vanish — the lost-update anomaly again). On conflict the caller
    * re-forks from the new main and re-applies. The merged branch is
    * deleted; its generations stay retained/time-travelable.
    */
  def fastForward(spark: SparkSession, spec: MigrationSpec, name: String): Long = {
    val base = UriSchemes.path(spec.destination)
    val (head, forkBase) = branches(spark, spec).getOrElse(name,
      throw new IllegalArgumentException(s"no such branch: $name"))
    ParquetDestinationDriver.lockFor(base).synchronized {
      val cur = currentGeneration(spark, spec)
      if (!cur.contains(forkBase))
        throw new graft.spec.ConcurrentPublishException(
          s"cannot fast-forward branch $name (forked from gen$forkBase): main has " +
            s"moved to ${cur.fold("<empty>")(g => s"gen$g")} — re-fork and re-apply")
      setCurrent(spark, base, s"gen$head")
    }
    dropBranch(spark, spec, name)
    head
  }

  /** Delete a branch pointer (its generations stay until vacuum). */
  def dropBranch(spark: SparkSession, spec: MigrationSpec, name: String): Unit = {
    val f = new org.apache.hadoop.fs.Path(UriSchemes.path(spec.destination), s"_branch_$name")
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(f), s"no such branch: $name")
    if (!fs.delete(f, false))
      throw new java.io.IOException(s"could not delete branch $name at $f")
  }

  /** Vacuum-immortal generations: every tag target plus every branch
    * head AND fork base (a reclaimed base would break the branch's
    * fast-forward ancestry check; a reclaimed head is the branch).
    */
  private def protectedGenerations(spark: SparkSession, spec: MigrationSpec): Set[Long] =
    tags(spark, spec).values.toSet ++
      branches(spark, spec).values.flatMap { case (h, b) => Seq(h, b) }

  private def writeBranchFile(spark: SparkSession, spec: MigrationSpec,
      name: String, head: Long, base: Long): Unit = {
    val f = new org.apache.hadoop.fs.Path(UriSchemes.path(spec.destination), s"_branch_$name")
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(f, true)
    try out.write(s"gen$head\tbase:gen$base".getBytes("UTF-8")) finally out.close()
  }

  /** Retained generation numbers, oldest first. */
  def generations(spark: SparkSession, spec: MigrationSpec): Seq[Long] = {
    val base = new org.apache.hadoop.fs.Path(UriSchemes.path(spec.destination))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("gen\\d+"))
      .map(_.stripPrefix("gen").toLong)
      .sorted
  }

  /** Size-targeted small-file compaction — the OPTIMIZE half of the
    * lakehouse maintenance story (etl_vacuum is the GC half): rewrite
    * the CURRENT generation's data as a NEW generation bin-packed to
    * `ceil(bytes / targetBytes)` files, and flip the pointer last.
    * Because generations are immutable and `_CURRENT` flips atomically,
    * compaction is read-safe by construction: a reader pinned to the
    * fragmented generation keeps its files until vacuum. The data move
    * is one round-robin exchange sized from MEASURED bytes (never a
    * row-count guess — row width varies), metadata work is O(#files)
    * listing on the driver. Returns (filesBefore, bytesBefore,
    * filesAfter, expectedFilesAfter).
    */
  def compact(spark: SparkSession, spec: MigrationSpec,
      targetBytes: Long): (Long, Long, Long, Long) = {
    // Bucketed sinks fix their file count at the bucket count: write()
    // repartitions by the bucket keys and ignores the byte-targeted
    // repartition below, so the returned plan would be a lie. Fail loudly
    // (same guard as stage()) rather than return a misleading tuple.
    require(buckets.isEmpty,
      "compact() is for non-bucketed generation sinks — bucketed layouts fix files at the bucket count")
    val base = UriSchemes.path(spec.destination)
    def partFiles(gen: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val dir = new org.apache.hadoop.fs.Path(base, gen)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(dir).toSeq.filter(_.getPath.getName.startsWith("part-"))
    }
    val before = currentGen(spark, base)
      .getOrElse(sys.error(s"compact: no current generation under $base"))
    val stats = partFiles(before)
    val bytes = stats.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = snapshot(spark, spec)
      .getOrElse(sys.error(s"compact: unreadable snapshot under $base"))
    write(df.repartition(nOut), spec)
    val after = currentGen(spark, base).get
    (stats.size.toLong, bytes, partFiles(after).size.toLong, nOut.toLong)
  }

  /** Right-to-erasure propagation (GDPR art. 17 / CCPA delete): rewrite
    * the current snapshot WITHOUT the rows matching `predicate` as a new
    * generation (the pointer flip is the logical delete), then — because
    * erasure is only REAL once the bytes are unreachable — purge every
    * older generation so no retained snapshot can still serve the erased
    * rows. `purge = false` keeps history (legal-hold mode) and leaves
    * physical deletion to a later vacuum. The rewrite is one filtered
    * scan-and-write (generations are immutable, so readers pinned to the
    * pre-erasure generation stay consistent until the purge lands);
    * the count pass is a single aggregate over the same snapshot.
    * NULL semantics: a row where the predicate evaluates to NULL is
    * RETAINED — erasure is strict three-valued-logic TRUE only.
    * (A bare `filter(!predicate)` would silently drop NULL rows while
    * the report counted them as retained — for a right-to-erasure API
    * the report and the rewrite must agree row-for-row, so the rewrite
    * keeps exactly the NOT-coalesce(pred, false) complement of what it
    * counts.) Returns (rowsBefore, rowsErased, rowsAfter), with
    * rowsAfter = rowsBefore − rowsErased by construction.
    */
  def erase(spark: SparkSession, spec: MigrationSpec, predicate: org.apache.spark.sql.Column,
      purge: Boolean = true): (Long, Long, Long) = {
    require(buckets.isEmpty, "erasure on bucketed sinks goes through the catalog rewrite")
    val snap = snapshot(spark, spec)
      .getOrElse(sys.error("erase: no current generation"))
    val hit = coalesce(predicate, lit(false))
    val a = snap.agg(count(lit(1)),
      coalesce(sum(when(hit, 1L).otherwise(0L)), lit(0L))).head()
    val (before, hits) = (a.getLong(0), a.getLong(1))
    write(snap.filter(!hit), spec)
    if (purge) {
      val base = new org.apache.hadoop.fs.Path(UriSchemes.path(spec.destination))
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.mapper.GenerationVacuum.vacuum(fs, base, 1)
    }
    (before, hits, before - hits)
  }

  /** Write-audit-publish staging (the WAP pattern): write `df` as the
    * next generation directory WITHOUT flipping `_CURRENT`, so auditors
    * can read the candidate data (via [[snapshotAt]]) while every
    * production reader still sees the published generation. Follow with
    * [[publish]] on a clean audit or [[abortStaged]] on a dirty one.
    * Staging is the same atomic-rename-free layout as [[write]] — the
    * pointer flip IS the commit, so a crashed audit leaves nothing
    * half-published. Non-bucketed sinks only (bucketed generations
    * publish through the catalog).
    */
  /** Merge-on-read delta: append an UPSERT log segment against the
    * published generation instead of rewriting it — the Hudi/Iceberg
    * MOR write path. A copy-on-write `write()` costs O(|table|) per
    * run; a delta costs O(|delta|), and readers pay a latest-wins
    * reconcile ([[morSnapshot]]) until [[compactDeltas]] folds the log
    * into the next COW generation. Deltas bind to the generation they
    * were appended against (`mordelta_<gen>_<k>` — deliberately NOT a
    * `gen*` name, which the vacuum/generation parsers own), so a
    * pointer flip atomically retires the whole log: time travel to the
    * old generation still sees its deltas via [[morSnapshot]] semantics
    * frozen at compaction, and a vacuumed generation strands only
    * dead log dirs. Delta indexes derive from the directory listing
    * (the WAP lesson — never a cached counter). Schema may not evolve
    * through a delta (that is a COW write's job): columns must match
    * the published set and are conformed to its types.
    *
    * A delta must carry each key at most once (the executor's merged-
    * snapshot uniqueness contract); duplicate keys WITHIN one delta
    * would reconcile nondeterministically and are rejected with the
    * same bounded probe `write()` paths use.
    */
  def appendDelta(df: DataFrame, spec: MigrationSpec): Long = {
    require(buckets.isEmpty, "merge-on-read is for non-bucketed generation sinks")
    val spark = df.sparkSession
    val base = UriSchemes.path(spec.destination)
    val gen = currentGen(spark, base).getOrElse(throw new IllegalStateException(
      s"merge-on-read delta needs a published base generation at $base"))
    val cur = ParquetDirs.schema(spark, s"$base/$gen")
    require(!cur.fieldNames.contains(TombstoneCol),
      s"published schema at $base carries a data column named $TombstoneCol — " +
        "reserved for tombstone delta segments; rename it")
    require(df.schema.fieldNames.sorted.sameElements(cur.fieldNames.sorted),
      s"MOR delta columns [${df.schema.fieldNames.sorted.mkString(", ")}] must match " +
        s"the published schema [${cur.fieldNames.sorted.mkString(", ")}] — " +
        "schema evolution goes through write(), not the delta log")
    val keyCols = spec.destinationIds.map(f => col(f.name))
    if (df.groupBy(keyCols: _*).count().filter(col("count") > 1).limit(1).count() > 0)
      throw new NonUniqueKeyException(
        s"MOR delta for ${spec.name} carries a duplicate destination key")
    val conformed = df.select(cur.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
    // the index comes from a non-atomic directory listing, so two
    // concurrent appenders can compute the same k: SegmentLog appends
    // with ErrorIfExists, never Overwrite, so the collision is a visible
    // retry instead of one delta silently clobbering the other — the
    // same stance the WAP paths take on generation numbers
    SegmentLog.append(conformed, base, DeltaPrefix, gen)
  }

  /** Incremental DELETE: land a TOMBSTONE delta segment carrying only
    * the destination-key columns plus a `_tombstone` marker — O(deleted
    * keys) bytes, never a state rewrite. [[morSnapshot]]'s latest-wins
    * reconcile drops a key whose winning segment is a tombstone (an
    * upsert landing later resurrects it — segment order is the truth),
    * and [[compactDeltas]] folds deletions away permanently. Replays
    * are idempotent: a duplicate tombstone segment reconciles to the
    * same view. This is the prune half of the delta path's orphan
    * reconcile ([[graft.exec.MigrationExecutor.reconcileDeltaOrphans]]) —
    * the reference's prune disposition (`DataMigrationExecutor.php:
    * 368-382`) without rewriting 100 TB of published state.
    */
  def appendTombstones(keys: DataFrame, spec: MigrationSpec): Long = {
    require(buckets.isEmpty, "merge-on-read is for non-bucketed generation sinks")
    val spark = keys.sparkSession
    val base = UriSchemes.path(spec.destination)
    val gen = currentGen(spark, base).getOrElse(throw new IllegalStateException(
      s"tombstones need a published base generation at $base"))
    val keyFields = spec.destinationIds
    require(!ParquetDirs.schema(spark, s"$base/$gen").fieldNames.contains(TombstoneCol),
      s"published schema at $base carries a data column named $TombstoneCol — " +
        "reserved for tombstone delta segments; rename it")
    require(keyFields.forall(f => keys.columns.contains(f.name)),
      s"tombstone frame must carry the destination key columns [${keyFields.map(_.name).mkString(", ")}]")
    val conformed = keys
      .select(keyFields.map(f => col(f.name).cast(f.idType.sparkType)): _*)
      .distinct()
      .withColumn(TombstoneCol, lit(true))
    SegmentLog.append(conformed, base, DeltaPrefix, gen) // appendDelta's collision stance
  }

  /** The current generation's delta-log segment indexes — observability
    * for incremental pipelines (how many micro-batch deltas have landed
    * since the last compaction/COW write). Empty when nothing is
    * published or the log is empty.
    */
  def deltaSegments(spark: SparkSession, spec: MigrationSpec): Seq[Long] = {
    val base = UriSchemes.path(spec.destination)
    currentGen(spark, base).map(g => SegmentLog.committed(spark, base, DeltaPrefix, g))
      .getOrElse(Seq.empty)
  }

  /** The reconciled merge-on-read view: published generation ⊎ its
    * delta log, latest segment wins per destination key. The reconcile
    * NEVER shuffles the base: only the log (the small side by MOR's
    * premise) goes through a keyed window, and the base is anti-joined
    * against the log's key set — a broadcast-sized build at any real
    * log size, with AQE falling back to a shuffle join if the log has
    * outgrown broadcast (at which point compaction is overdue).
    * Compaction bounds how long the reconcile tax accrues. With an
    * empty log this is exactly [[snapshot]].
    */
  def morSnapshot(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] = {
    require(buckets.isEmpty, "merge-on-read is for non-bucketed generation sinks")
    val base = UriSchemes.path(spec.destination)
    currentGen(spark, base).map { gen =>
      val baseDf = ParquetDirs.read(spark, s"$base/$gen")
      val ks = SegmentLog.committed(spark, base, DeltaPrefix, gen)
      if (ks.isEmpty) baseDf
      else {
        val keyNames = spec.destinationIds.map(_.name)
        // A segment is either an upsert delta (full row schema) or a
        // TOMBSTONE segment ([[appendTombstones]]: key columns + a
        // `_tombstone` marker, value columns synthesized as NULL here —
        // they never surface: a winning tombstone DELETES the key).
        // Latest-wins first, THEN the tombstone filter, so an upsert
        // re-arriving after a delete resurrects the key and a delete
        // after an upsert removes it — segment order is the truth.
        val segments = ks.map { k =>
          val seg = SegmentLog.read(spark, base, DeltaPrefix, gen, k)
          val full = baseDf.schema.fields.foldLeft(
            if (seg.columns.contains(TombstoneCol)) seg
            else seg.withColumn(TombstoneCol, lit(false))) { (df, f) =>
            if (df.columns.contains(f.name)) df
            else df.withColumn(f.name, lit(null).cast(f.dataType))
          }
          full.select(baseDf.schema.fieldNames.map(col).toSeq :+ col(TombstoneCol): _*)
        }
        val logLatest = SegmentLog.latestPerKey(segments, keyNames.map(col))
        baseDf.join(logLatest.select(keyNames.map(col): _*), keyNames, "left_anti")
          .unionByName(logLatest.filter(!col(TombstoneCol)).drop(TombstoneCol)
            .select(baseDf.schema.fieldNames.map(col).toSeq: _*))
      }
    }
  }

  /** Fold the delta log into the next copy-on-write generation and flip
    * the pointer — the OPTIMIZE step that stops the reconcile tax. The
    * old generation and its (now frozen) log stay readable until
    * vacuum. Returns the new generation number.
    */
  def compactDeltas(spark: SparkSession, spec: MigrationSpec): Long = {
    val snap = morSnapshot(spark, spec).getOrElse(throw new IllegalStateException(
      s"nothing to compact at ${spec.destination}"))
    write(snap, spec)
    generations(spark, spec).last
  }

  def stage(df: DataFrame, spec: MigrationSpec): String = {
    require(buckets.isEmpty, "WAP staging is for non-bucketed generation sinks")
    val spark = df.sparkSession
    val base = UriSchemes.path(spec.destination)
    // same evolution contract as write() — a WAP candidate that could
    // never publish must fail at stage time, not after the audit
    currentGen(spark, base).foreach { g =>
      SchemaEvolution.validateEvolution(
        ParquetDirs.schema(spark, s"$base/$g"), df.schema,
        s"destination ${spec.name} ($base, published $g, staging)")
    }
    val next = s"gen${generations(spark, spec).lastOption.getOrElse(-1L) + 1}"
    ParquetDirs.write(writePartitions.fold(df)(df.coalesce), s"$base/$next", SaveMode.Overwrite)
    next
  }

  /** Publish a staged generation: flip `_CURRENT` to it (atomic commit). */
  def publish(spark: SparkSession, spec: MigrationSpec, gen: String): Unit =
    setCurrent(spark, UriSchemes.path(spec.destination), gen)

  /** Abort a staged generation: delete its directory. Refuses to touch
    * the published generation — only unpublished candidates die here.
    */
  def abortStaged(spark: SparkSession, spec: MigrationSpec, gen: String): Unit = {
    val base = UriSchemes.path(spec.destination)
    require(!currentGen(spark, base).contains(gen),
      s"refusing to abort the PUBLISHED generation $gen")
    val dir = new org.apache.hadoop.fs.Path(base, gen)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
  }

  /** Roll the published pointer back to a RETAINED older generation —
    * the lakehouse undo button. The flip is the same atomic `_CURRENT`
    * write as publish(): one driver-side metadata operation, no data
    * moves, at any table size. Newer generations are NOT deleted — the
    * abandoned branch stays time-travelable until an explicit vacuum,
    * so a post-incident audit can still read what was rolled away —
    * and because write()/stage() derive the next generation number
    * from the directory listing (never from the pointer — the WAP-race
    * rule), the first write after a rollback branches to max(gen)+1
    * instead of silently overwriting the abandoned generation.
    */
  def rollback(spark: SparkSession, spec: MigrationSpec, gen: Long): Unit = {
    require(generations(spark, spec).contains(gen),
      s"cannot roll back to non-retained generation $gen")
    setCurrent(spark, UriSchemes.path(spec.destination), s"gen$gen")
  }

  private def setCurrent(spark: SparkSession, base: String, gen: String): Unit =
    GenerationPointer.publish(spark, base, gen)

  /** SHALLOW CLONE: publish a new destination whose gen0 references the
    * source's CURRENT generation files without rewriting a byte — the
    * lakehouse zero-copy-clone pattern (dev/test forks, what-if
    * branches at table scale). The data files are HARDLINKED on a
    * local/POSIX filesystem (one metadata op per file, O(files) not
    * O(bytes) — on an object store this would be a manifest of source
    * paths instead); if the filesystem refuses links the clone falls
    * back to a copy and reports it. From gen0 on, the clone is an
    * ordinary generation-pointer destination: its writes land gen1+
    * in its OWN base, never touching the source (parquet generation
    * files are immutable once published, so shared blocks are safe —
    * the same immutability time travel already relies on), and the
    * source's vacuum must simply retain the cloned generation as it
    * retains any time-travel-reachable one. A `_cloned_from` marker
    * records provenance for audits. Returns true when every file was
    * linked (zero bytes copied).
    */
  def shallowClone(spark: SparkSession, src: MigrationSpec, dst: MigrationSpec): Boolean = {
    val srcBase = UriSchemes.path(src.destination)
    val gen = currentGen(spark, srcBase).getOrElse(throw new IllegalStateException(
      s"shallow clone needs a published source generation at $srcBase"))
    val dstBase = UriSchemes.path(dst.destination)
    require(currentGen(spark, dstBase).isEmpty,
      s"shallow clone target $dstBase already has a published generation")
    val from = java.nio.file.Paths.get(srcBase, gen)
    val to = java.nio.file.Paths.get(dstBase, "gen0")
    java.nio.file.Files.createDirectories(to)
    var allLinked = true
    // A clone must not race the SOURCE's vacuum: the generation read
    // above is only stable while the source retains it (the same
    // retention contract time travel relies on). If a concurrent
    // publish+vacuum deletes files mid-clone, the link degrades to the
    // copy path and the copy then throws — in that case the partial,
    // never-pointed gen0 is best-effort deleted so a failed clone
    // leaves no orphaned half-built generation behind (r17 advice).
    try {
      val files = java.nio.file.Files.list(from)
      try files.iterator().forEachRemaining { p =>
        if (java.nio.file.Files.isRegularFile(p)) {
          val target = to.resolve(p.getFileName.toString)
          try { java.nio.file.Files.createLink(target, p): Unit }
          catch {
            case _: UnsupportedOperationException | _: java.io.IOException =>
              java.nio.file.Files.copy(p, target,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
              allLinked = false
          }
        }
      } finally files.close()
    } catch {
      case e: Throwable =>
        try {
          val part = java.nio.file.Files.list(to)
          try part.iterator().forEachRemaining(p =>
            java.nio.file.Files.deleteIfExists(p): Unit)
          finally part.close()
          java.nio.file.Files.deleteIfExists(to): Unit
        } catch { case _: java.io.IOException => () } // cleanup is best-effort
        throw e
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dstBase, "_cloned_from"),
      s"$srcBase/$gen".getBytes("UTF-8")): Unit
    setCurrent(spark, dstBase, "gen0")
    allLinked
  }

  /** The published (CURRENT) generation's schema, if any — the
    * authoritative "latest" schema evolution reconciles old reads to.
    * One parquet footer read, no data scan.
    */
  def currentSchema(spark: SparkSession, spec: MigrationSpec): Option[org.apache.spark.sql.types.StructType] = {
    val base = UriSchemes.path(spec.destination)
    currentGen(spark, base).map(g => ParquetDirs.schema(spark, s"$base/$g"))
  }

  /** Time travel ACROSS a schema boundary: read generation `gen` and
    * reconcile it to the CURRENT generation's schema — columns added
    * since `gen` come back as typed NULLs, columns widened since `gen`
    * are up-cast (the lossless directions only, [[SchemaEvolution]]),
    * columns dropped since `gen` are dropped from the old read, and the
    * output column order is the current schema's — so an old snapshot
    * joins/unions/diffs against the current one without per-generation
    * schema plumbing. The raw per-generation read stays available via
    * [[snapshotAt]].
    */
  def snapshotAtConformed(spark: SparkSession, spec: MigrationSpec, gen: Long): Option[DataFrame] =
    for {
      df <- snapshotAt(spark, spec, gen)
      target <- currentSchema(spark, spec)
    } yield SchemaEvolution.conform(df, target)

  /** Partition-SPEC evolution (the Iceberg headline feature, on the
    * generation sink's terms): write the next generation hive-
    * partitioned by `layout` — and because generations are immutable
    * snapshots, evolving the spec between generations rewrites NO old
    * bytes: gen N keeps its directories, gen N+1 gets the new ones, and
    * every read prunes by the layout its own generation was written
    * with (partition filters reach the directory listing, the thing
    * that makes a 100 TB scan skip to one region's files). Layout
    * columns must be STRING-typed: hive partition values live in
    * directory names, and round-tripping any other type through name
    * inference silently retypes the column (BIGINT out, INT back) —
    * requiring strings makes the read schema a fixed point. The same
    * evolution contract as [[write]] runs BEFORE any directory lands.
    */
  def writePartitioned(
      df: DataFrame, spec: MigrationSpec, layout: Seq[String]): Unit = {
    require(buckets.isEmpty && writePartitions.isEmpty,
      "partition-spec layouts compose with neither bucketed generations nor a fixed file count")
    require(layout.nonEmpty, "writePartitioned needs at least one layout column")
    layout.foreach { c =>
      require(df.schema(c).dataType == org.apache.spark.sql.types.StringType,
        s"layout column $c must be STRING — hive partition values are directory " +
          "names, and non-string types do not survive name inference")
    }
    val spark = df.sparkSession
    val base = UriSchemes.path(spec.destination)
    currentGen(spark, base).foreach { g =>
      SchemaEvolution.validateEvolution(
        ParquetDirs.schema(spark, s"$base/$g"), df.schema,
        s"destination ${spec.name} ($base, published $g, partitioned)")
    }
    val next = s"gen${generations(spark, spec).lastOption.getOrElse(-1L) + 1}"
    df.write.mode(SaveMode.Overwrite).partitionBy(layout: _*)
      .parquet(s"$base/$next")
    setCurrent(spark, base, next)
    keepGenerations.foreach { k =>
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.mapper.GenerationVacuum.vacuum(fs, basePath, k,
        protectedGenerations(spark, spec)) // tagged/branched generations are immortal
    }
  }

  /** The hive layout (partition columns, outermost first) generation
    * `gen` was written with — recovered from the directory structure
    * (one `k=v` path walk, no data scan; empty for an unpartitioned
    * generation). What lets a reader/compactor reason about EACH
    * generation's spec after the spec has evolved.
    */
  def layoutOf(spark: SparkSession, spec: MigrationSpec, gen: Long): Seq[String] = {
    val base = UriSchemes.path(spec.destination)
    var dir = new org.apache.hadoop.fs.Path(base, s"gen$gen")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var descending = true
    while (descending) {
      fs.listStatus(dir).find(s =>
          s.isDirectory && s.getPath.getName.contains("=")) match {
        case Some(child) =>
          out += child.getPath.getName.takeWhile(_ != '=')
          dir = child.getPath
        case None => descending = false
      }
    }
    out.toSeq
  }

  def write(df: DataFrame, spec: MigrationSpec): Unit = {
    if (optimistic) return writeOptimistic(df, spec)
    val spark = df.sparkSession
    val base = UriSchemes.path(spec.destination)
    val prev = currentGen(spark, base)
    // Evolution contract, checked BEFORE any directory is created (a
    // rejected write must not burn a generation number or leave a
    // half-staged dir): columns present in BOTH the published schema and
    // this write must keep their type or widen losslessly; adds and
    // drops are legal (this is a snapshot sink — each generation is the
    // new truth). The destination-side mirror of MappingStore.conform.
    prev.foreach { g =>
      SchemaEvolution.validateEvolution(
        ParquetDirs.schema(spark, s"$base/$g"), df.schema,
        s"destination ${spec.name} ($base, published $g)")
    }
    // Next generation comes from the DIRECTORY LISTING (max gen dir + 1),
    // exactly as stage() derives it — never from the _CURRENT pointer.
    // Deriving from the pointer silently reused a staged-but-unpublished
    // WAP candidate's number: with gen0 published and gen1 staged,
    // pointer+1 = gen1 and SaveMode.Overwrite destroyed the candidate a
    // later audit/publish believed it was operating on.
    val next = s"gen${generations(spark, spec).lastOption.getOrElse(-1L) + 1}"
    buckets match {
      case None =>
        ParquetDirs.write(writePartitions.fold(df)(df.coalesce), s"$base/$next", SaveMode.Overwrite)
      case Some(n) =>
        val keys = spec.destinationIds.map(_.name)
        df.repartition(n, keys.map(org.apache.spark.sql.functions.col): _*)
          .write.mode(SaveMode.Overwrite)
          .bucketBy(n, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
          .option("path", s"$base/$next")
          .saveAsTable(catalogName(base, next))
    }
    setCurrent(spark, base, next)
    if (buckets.isDefined)
      prev.foreach(g => spark.sql(s"DROP TABLE IF EXISTS ${catalogName(base, g)}"))
    keepGenerations.foreach { k =>
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.mapper.GenerationVacuum.vacuum(fs, basePath, k,
        protectedGenerations(spark, spec)) // tagged/branched generations are immortal
    }
  }

  /** The compare-and-swap write path (see the `optimistic` param doc).
    * Protocol, all O(1)-file driver metadata around the one data write:
    *
    *   1. CLAIM — the generation number comes from the listing as usual,
    *      but is made EXCLUSIVE by atomically creating `_claim_gen<n>`
    *      only if absent ([[ExclusiveCreate]], the filesystem's CAS
    *      primitive); a rival that computed the same n fails the
    *      create and takes n+1 — two stagers can never share a
    *      directory, which SaveMode.Overwrite staging would otherwise
    *      allow silently.
    *   2. STAGE — write the candidate into its claimed directory.
    *   3. CAS FLIP — advance the pointer only if the published
    *      generation still equals the base `snapshot()` observed (what
    *      this writer's merge consumed). Cross-process exclusivity comes
    *      from `_cas_from_<base>`: each base value can be advanced-from
    *      exactly once, ever, because only one writer can create that
    *      marker; the per-base JVM lock makes check+flip atomic
    *      in-process. The retained markers double as a commit audit log
    *      (target generation recorded inside). A marker whose flip never
    *      landed (crashed winner) is rolled FORWARD by the next
    *      contender before it concedes — the TxnPublish redo stance.
    *
    * The loser's candidate is deleted and
    * [[graft.spec.ConcurrentPublishException]] is thrown: correctness
    * requires a re-merge against the winner's snapshot, which only the
    * caller (executor re-run) can do.
    */
  private def writeOptimistic(df: DataFrame, spec: MigrationSpec): Unit = {
    val spark = df.sparkSession
    val base = UriSchemes.path(spec.destination)
    val expected = Option(observedBase.get(base)).getOrElse(None)
    expected.foreach { g =>
      SchemaEvolution.validateEvolution(
        ParquetDirs.schema(spark, s"$base/gen$g"), df.schema,
        s"destination ${spec.name} ($base, published gen$g, optimistic)")
    }
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(basePath)
    // The claim loop also runs under the per-base JVM lock, which keeps
    // in-process threads apart on stores whose create-no-overwrite is
    // not exclusive. Only the O(1) number claim is locked — the data
    // write below runs unlocked.
    var n = 0L
    ParquetDestinationDriver.lockFor(base).synchronized {
      n = generations(spark, spec).lastOption.getOrElse(-1L) + 1
      while (!ExclusiveCreate(fs, new org.apache.hadoop.fs.Path(base, s"_claim_gen$n"), Array.emptyByteArray))
        n += 1
    }
    val next = s"gen$n"
    ParquetDirs.write(writePartitions.fold(df)(df.coalesce), s"$base/$next", SaveMode.Overwrite)
    def baseName(g: Option[Long]) = g.map(v => s"gen$v").getOrElse("none")
    val casMarker = new org.apache.hadoop.fs.Path(base, s"_cas_from_${baseName(expected)}")
    ParquetDestinationDriver.lockFor(base).synchronized {
      var cur = currentGen(spark, base).map(_.stripPrefix("gen").toLong)
      if (cur == expected && fs.exists(casMarker)) {
        // a winner claimed this base but crashed before its flip: redo
        // its flip (roll forward, never abandon), then concede below
        val in = fs.open(casMarker)
        val tgt = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
          finally in.close()
        if (fs.exists(new org.apache.hadoop.fs.Path(base, tgt)))
          setCurrent(spark, base, tgt)
        cur = currentGen(spark, base).map(_.stripPrefix("gen").toLong)
      }
      val won = cur == expected && ExclusiveCreate(fs, casMarker, next.getBytes("UTF-8"))
      if (!won) {
        fs.delete(new org.apache.hadoop.fs.Path(base, next), true)
        fs.delete(new org.apache.hadoop.fs.Path(base, s"_claim_gen$n"), false)
        throw new graft.spec.ConcurrentPublishException(
          s"optimistic publish of $next to $base lost: staged against ${baseName(expected)} " +
            s"but the published generation is now ${baseName(cur)} — " +
            "re-read the snapshot, re-merge, and retry")
      }
      setCurrent(spark, base, next)
    }
    keepGenerations.foreach(k => graft.mapper.GenerationVacuum.vacuum(
      fs, basePath, k, protectedGenerations(spark, spec)))
  }
}

object ParquetDestinationDriver {
  // per-base in-process CAS lock (the cross-process half is the
  // `_cas_from_*` marker protocol) — the MappingStore.lockFor pattern
  private val locks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private def lockFor(path: String): Object = locks.getOrElseUpdate(path, new Object)

  /** Marker column of a tombstone delta segment ([[ParquetDestinationDriver.appendTombstones]]). */
  val TombstoneCol = "_tombstone"

  /** Directory prefix of the merge-on-read delta log ([[SegmentLog]]). */
  private val DeltaPrefix = "mordelta"
}

/** CSV sink: header row, atomic commit — parity with
  * `CsvDestinationDriver.php:61-203` (header-once `:109-112`, temp+swap
  * `:78-79,198-203`). The write stages into a sibling directory and
  * swaps it in last, the same shape as the reference's temp file +
  * atomic copy: an update run's plan can keep reading the current
  * directory while its replacement is written, and readers never see a
  * half-written output. Key uniqueness is not checked before the write:
  * like the reference (`:135-139`), a duplicate key errors lazily on a
  * keyed read ([[DestinationDriver.readByIds]]).
  */
final class CsvDestinationDriver extends DestinationDriver {
  override def overwriteIsReadSafe: Boolean = true // stage + swap below

  def snapshot(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] = {
    val base = UriSchemes.path(spec.destination)
    if (DestPath.exists(spark, base))
      Some(spark.read.option("header", "true").csv(base))
    else None
  }

  def write(df: DataFrame, spec: MigrationSpec): Unit = {
    validateColumns(df, spec)
    StagedCommit.swap(df.sparkSession, UriSchemes.path(spec.destination), "CSV") { stage =>
      df.write.mode(SaveMode.Overwrite).option("header", "true").csv(stage)
    }
  }

  /** Write-time column-consistency validator — parity with the reference's
    * per-row column-count check (`CsvDestinationDriver.php:80`,
    * `ROW_COLUMN_MISMATCH`). A Spark schema fixes the column *count*, but
    * `unionByName(allowMissingColumns)` and user transforms can still
    * inject silently-null drift columns; an entirely-null column in a
    * non-empty output is the set-wise signature of that drift. One
    * aggregate pass over the (already executor-persisted) frame; disable
    * via `graft.csv.validateColumns=false` for writes where all-null
    * columns are legitimate.
    */
  private def validateColumns(df: DataFrame, spec: MigrationSpec): Unit = {
    val enabled = df.sparkSession.conf
      .getOption("graft.csv.validateColumns").forall(_.toBoolean)
    if (enabled && df.columns.nonEmpty) {
      val counts = df.agg(
        count(lit(1)).as("__rows"),
        df.columns.map(c => count(col(c)).as(c)): _*).head()
      val total = counts.getAs[Long]("__rows")
      if (total > 0) {
        val drifted = df.columns.filter(c => counts.getAs[Long](c) == 0L)
        if (drifted.nonEmpty)
          throw new ColumnDriftException(
            s"CSV write to ${spec.destination}: column(s) ${drifted.mkString(", ")} " +
              s"are null in all $total rows — column set drifted from the data " +
              "(set graft.csv.validateColumns=false to allow)")
      }
    }
  }
}

/** Thrown by the CSV sink's write-time column validator (parity with the
  * reference's `ROW_COLUMN_MISMATCH`, `CsvDestinationDriver.php:80`). */
final class ColumnDriftException(msg: String) extends RuntimeException(msg)

/** JSON-lines sink with the same stage + rename-aside commit as the CSV
  * sink (engine-native breadth; nested columns serialize as nested JSON).
  */
final class JsonDestinationDriver extends DestinationDriver {
  override def overwriteIsReadSafe: Boolean = true // stage + swap

  def snapshot(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] = {
    val base = UriSchemes.path(spec.destination)
    if (DestPath.exists(spark, base))
      Some(spark.read.json(base))
    else None
  }

  def write(df: DataFrame, spec: MigrationSpec): Unit =
    StagedCommit.swap(df.sparkSession, UriSchemes.path(spec.destination), "JSON") { stage =>
      df.write.mode(SaveMode.Overwrite).json(stage)
    }
}

/** ORC sink (engine-native breadth — ORC ships in spark-sql, so a lake
  * standardized on ORC gets the same staged-swap columnar sink as
  * parquet users; Avro is deliberately absent: the `spark-avro`
  * datasource module is not on this classpath).
  */
final class OrcDestinationDriver extends DestinationDriver {
  override def overwriteIsReadSafe: Boolean = true // stage + swap

  def snapshot(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] = {
    val base = UriSchemes.path(spec.destination)
    if (DestPath.exists(spark, base)) Some(spark.read.orc(base)) else None
  }

  def write(df: DataFrame, spec: MigrationSpec): Unit =
    StagedCommit.swap(df.sparkSession, UriSchemes.path(spec.destination), "ORC") { stage =>
      df.write.mode(SaveMode.Overwrite).orc(stage)
    }
}

/** Debug/console sink used by `--simulate`
  * (`/root/reference/src/Drivers/Destination/DebugDestinationDriver.php:50-100`,
  * wired by `MigrateCommand.php:192-195`): dumps records, reads nothing.
  */
final class ConsoleDestinationDriver(numRows: Int = 20) extends DestinationDriver {
  override def overwriteIsReadSafe: Boolean = true // reads nothing back
  override def snapshotIsStableAcrossWrites: Boolean = true // no snapshot at all
  def snapshot(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] = None
  def write(df: DataFrame, spec: MigrationSpec): Unit =
    df.show(numRows, truncate = false)
}

/** JDBC sink with MERGE-style upsert semantics, the set-oriented
  * equivalent of the Doctrine ORM sink's persist+flush-per-100 batching
  * (`/root/reference/src/Drivers/Destination/DoctrineDestinationDriver.php:156-173`).
  *
  * Two write modes:
  *   - `merge = false` (default): snapshot overwrite through Spark's JDBC
  *     writer (`batchsize` ≙ the reference's batch-100);
  *   - `merge = true`: incremental `MERGE INTO` per partition batch —
  *     only the incoming rows travel to the database, keyed on the
  *     spec's destination ids. At 100 TB the merge mode is the only
  *     viable shape: a truncate-rewrite of a large destination is
  *     O(destination), the merge is O(batch).
  */
final class JdbcDestinationDriver(
    table: String,
    properties: Map[String, String] = Map.empty,
    batchSize: Int = 100,
    merge: Boolean = false)
    extends DestinationDriver {
  override def supportsStubs: Boolean = true

  /** merge mode never truncates what it reads (per-key MERGE only);
    * overwrite mode truncates the table an update-run plan is still
    * lazily reading → the executor must materialize first.
    */
  override def overwriteIsReadSafe: Boolean = merge

  private def requireTable(spec: MigrationSpec): Unit =
    require(table.nonEmpty,
      s"JDBC destination for ${spec.destination} has no table name — a scheme-" +
        "resolved JDBC destination must be configured via " +
        "Migration.configureDestination returning new JdbcDestinationDriver(table)")

  private def load(spark: SparkSession, spec: MigrationSpec): DataFrame = {
    requireTable(spec)
    val url = UriSchemes.jdbcUrl(spec.destination)
    // Embedded Derby lives inside the driver JVM — executor JVMs can
    // never boot it (single-JVM by Derby's design; proved by the
    // local-cluster sweep). Route the read driver-side for embedded
    // URLs only; every network database keeps the executor-side scan.
    if (DriverLocalJdbc.isEmbedded(url))
      DriverLocalJdbc.read(spark, url, s"SELECT * FROM $table",
        properties.get("driver"))
    else {
      val r = spark.read.format("jdbc")
        .option("url", url).option("dbtable", table)
      properties.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
    }
  }

  def snapshot(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] = {
    requireTable(spec) // outside the catch-all: misconfiguration must not read as "table absent"
    try Some(load(spark, spec))
    catch { case _: Exception => None } // table absent yet
  }

  def write(df: DataFrame, spec: MigrationSpec): Unit = {
    requireTable(spec)
    if (merge) mergeWrite(df, spec)
    else {
      val url = UriSchemes.jdbcUrl(spec.destination)
      if (DriverLocalJdbc.isEmbedded(url)) {
        // In-process database: overwrite = ensure table, clear, batch
        // INSERT through ONE driver-side connection (toLocalIterator —
        // one partition in driver memory at a time). Also sidesteps
        // Derby's page-cache observer race under concurrent batch DML.
        ensureTable(url, df.schema, keyCols = Nil)
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          val st = conn.createStatement()
          try st.execute(s"DELETE FROM $table") finally st.close()
        } finally conn.close()
        val cols = df.schema.fields.map(_.name).toSeq
        val insertSql = s"""INSERT INTO $table (${cols.map(c => s""""$c"""").mkString(", ")}) """ +
          s"""VALUES (${cols.map(_ => "?").mkString(", ")})"""
        import scala.jdk.CollectionConverters._
        DriverLocalJdbc.execBatched(url, insertSql, df.toLocalIterator().asScala,
          cols, typeCodes(df.schema), batchSize, properties.get("driver"))
      } else {
        val w = df.write.format("jdbc")
          .option("url", url).option("dbtable", table)
          .option("batchsize", batchSize.toString)
          .mode(SaveMode.Overwrite).option("truncate", "true")
        properties.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }.save()
      }
    }
  }

  private def sqlType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "BIGINT"
      case IntegerType => "INT"
      case DoubleType => "DOUBLE"
      case FloatType => "REAL"
      case BooleanType => "BOOLEAN"
      case TimestampType => "TIMESTAMP"
      case DateType => "DATE"
      case _ => "VARCHAR(1024)"
    }
  }

  /** CREATE TABLE from the frame's schema if absent (driver-side, once);
    * `keyCols` non-empty adds the PRIMARY KEY clause the MERGE path
    * needs.
    */
  private def ensureTable(url: String, schema: org.apache.spark.sql.types.StructType,
      keyCols: Seq[String]): Unit = {
    properties.get("driver").foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val ddlCols = schema.fields
        .map(f => s""""${f.name}" ${sqlType(f.dataType)}""").mkString(", ")
      val pk = if (keyCols.isEmpty) ""
        else s""", PRIMARY KEY (${keyCols.map(k => s""""$k"""").mkString(", ")})"""
      val st = conn.createStatement()
      try st.execute(s"CREATE TABLE $table ($ddlCols$pk)")
      catch { case _: java.sql.SQLException => () } // exists
      finally st.close()
    } finally conn.close()
  }

  /** NULL bindings must carry the COLUMN's JDBC type, not Types.NULL —
    * Derby (and other strict databases) reject an untyped NULL
    * parameter ("data type '0' is not supported") the first time a
    * nullable column actually holds one.
    */
  private def typeCodes(schema: org.apache.spark.sql.types.StructType): Map[String, Int] = {
    import org.apache.spark.sql.types._
    schema.fields.map(f => f.name -> (f.dataType match {
      case LongType => java.sql.Types.BIGINT
      case IntegerType => java.sql.Types.INTEGER
      case DoubleType => java.sql.Types.DOUBLE
      case FloatType => java.sql.Types.REAL
      case BooleanType => java.sql.Types.BOOLEAN
      case TimestampType => java.sql.Types.TIMESTAMP
      case DateType => java.sql.Types.DATE
      case _ => java.sql.Types.VARCHAR
    })).toMap
  }

  /** Batched `MERGE INTO` (ANSI, Derby-compatible single-row source
    * form), creating the table on first contact. For network databases
    * executors open their own connections per partition — the standard
    * distributed JDBC sink shape, `batchSize` rows per round trip. For
    * EMBEDDED URLs the same statements run driver-side over
    * `toLocalIterator` (an in-process database is reachable from
    * exactly one JVM — see [[DriverLocalJdbc]]).
    */
  private def mergeWrite(df: DataFrame, spec: MigrationSpec): Unit = {
    val url = UriSchemes.jdbcUrl(spec.destination)
    val keyCols = spec.destinationIds.map(_.name)
    val cols = df.schema.fields.map(_.name).toSeq
    val nonKeys = cols.filterNot(keyCols.contains)
    val driverClass = properties.get("driver")
    ensureTable(url, df.schema, keyCols)
    val mergeSql = {
      val on = keyCols.map(k => s"""t."$k" = ?""").mkString(" AND ")
      val set = nonKeys.map(c => s""""$c" = ?""").mkString(", ")
      val insCols = cols.map(c => s""""$c"""").mkString(", ")
      val insVals = cols.map(_ => "?").mkString(", ")
      val matched = if (nonKeys.nonEmpty) s"WHEN MATCHED THEN UPDATE SET $set " else ""
      s"""MERGE INTO $table t USING SYSIBM.SYSDUMMY1 ON ($on) """ +
        matched + s"""WHEN NOT MATCHED THEN INSERT ($insCols) VALUES ($insVals)"""
    }
    val bindOrder = keyCols ++ nonKeys ++ cols // ON, UPDATE SET, INSERT VALUES
    val codes = typeCodes(df.schema)
    val bs = batchSize
    if (DriverLocalJdbc.isEmbedded(url)) {
      import scala.jdk.CollectionConverters._
      DriverLocalJdbc.execBatched(url, mergeSql, df.toLocalIterator().asScala,
        bindOrder, codes, bs, driverClass)
    } else {
      df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        DriverLocalJdbc.execBatched(url, mergeSql, rows, bindOrder, codes, bs, driverClass)
      }
    }
  }
}

/** Generation-sink schema evolution: the widen-or-fail-loudly contract
  * of the mapping store's conform (`MappingStore.conform`,
  * `/root/reference/src/DataMigration/DataMigrationMapper.php:189-257`),
  * applied destination-side. Two halves:
  *
  *  - [[validateEvolution]] guards the WRITE: a column present in both
  *    the published schema and the incoming one must keep its type or
  *    change in a direction Catalyst can up-cast losslessly
  *    (`Cast.canUpCast`, the ANSI store-assignment rule — int→long,
  *    float→double, decimal widening, date→timestamp, atomic→string;
  *    never narrowing); anything else is a
  *    [[graft.spec.SchemaEvolutionException]] before a single byte
  *    lands. Adds and drops are legal: each generation is a full
  *    snapshot, so there is no partial-file merge problem.
  *  - [[conform]] reconciles a READ: an old generation is projected to
  *    the current schema (typed NULLs for since-added columns, up-casts
  *    for since-widened ones, current column order), so time travel
  *    across the boundary composes with joins/unions/diffs untouched.
  *
  * Scale shape: both halves are footer-level metadata work plus a
  * per-row projection — no shuffle, no data rewrite; old generations
  * are never migrated in place (the lakehouse rule: evolution is a
  * read-side view, rewrite only on compaction).
  */
object SchemaEvolution {
  import org.apache.spark.sql.catalyst.expressions.Cast
  import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

  /** Nullability-normalized view of a type: parquet round-trips declare
    * every container element/field nullable, so a frame written with
    * `array<float> containsNull=false` reads back `containsNull=true` —
    * a representation detail, not an evolution. Widening is judged on
    * the normalized types.
    */
  private def normalized(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(normalized(e), containsNull = true)
    case MapType(k, v, _) => MapType(normalized(k), normalized(v), valueContainsNull = true)
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = normalized(f.dataType), nullable = true)))
    case other => other
  }

  /** `s` with every field, element and value nullable — the schema
    * Spark's parquet writer stores for a frame of schema `s`.
    */
  private[graft] def nullable(s: StructType): StructType = normalized(s).asInstanceOf[StructType]

  /** Throws [[graft.spec.SchemaEvolutionException]] when `incoming`
    * changes a shared column in a non-widening direction.
    */
  def validateEvolution(published: StructType, incoming: StructType, what: String): Unit = {
    val pub = published.fields.map(f => f.name -> normalized(f.dataType)).toMap
    val bad = incoming.fields.flatMap { f =>
      val t = normalized(f.dataType)
      pub.get(f.name) match {
        case Some(old) if old != t && !Cast.canUpCast(old, t) =>
          Some(s"${f.name}: ${old.simpleString} -> ${t.simpleString}")
        case _ => None
      }
    }
    if (bad.nonEmpty)
      throw new graft.spec.SchemaEvolutionException(
        s"$what: incompatible schema evolution (only lossless widening is " +
          s"allowed for columns kept across generations): ${bad.mkString("; ")}")
  }

  /** Project `df` (an older generation) to `target` (the current
    * schema): since-added columns become typed NULLs, since-widened
    * columns up-cast, since-dropped columns drop, column order =
    * `target`'s. Fails loudly if an old column cannot up-cast to its
    * current type — which [[validateEvolution]] makes unreachable for
    * generations written through this driver.
    */
  def conform(df: DataFrame, target: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val have = df.schema.fields.map(f => f.name -> normalized(f.dataType)).toMap
    df.select(target.fields.toSeq.map { f =>
      val want = normalized(f.dataType)
      have.get(f.name) match {
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(t) if t == want => col(f.name)
        case Some(t) if Cast.canUpCast(t, want) =>
          col(f.name).cast(f.dataType).as(f.name)
        case Some(t) => throw new graft.spec.SchemaEvolutionException(
          s"conform: column ${f.name} cannot up-cast " +
            s"${t.simpleString} -> ${want.simpleString}")
      }
    }: _*)
  }
}
