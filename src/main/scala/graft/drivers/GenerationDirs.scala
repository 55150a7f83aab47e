package graft.drivers

import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** The `_CURRENT` file of a generation-pointer store (parquet
  * destinations and mapping tables): one line naming the published
  * generation directory.
  *
  * Publishing is atomic on the local filesystem: the name is written to
  * a private temporary file that is renamed over `_CURRENT`, so a
  * reader, a crash or a rival publisher sees the old name or the new
  * one, never a truncated file. Both sides go through the raw file,
  * not Hadoop's checksummed view: a `.crc` sidecar is a second file
  * that no rename can swap together with the pointer. On other stores
  * the pointer is written with Hadoop's `create(overwrite = true)`.
  */
private[graft] object GenerationPointer {
  private val Name = "_CURRENT"

  /** The published generation's directory name, None when nothing is
    * published. A pointer file that exists but names nothing (empty or
    * whitespace only) is a [[BlankGenerationPointerException]]: reading
    * it as `Some("")` would serve the table's base directory as a
    * generation.
    */
  def read(spark: SparkSession, base: String): Option[String] = {
    val f = new Path(base, Name)
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = LocalPath(fs, f) match {
      case Some(p) =>
        try Some(Files.readAllBytes(p)) catch { case _: java.nio.file.NoSuchFileException => None }
      case None =>
        if (!fs.exists(f)) None
        else {
          val in = fs.open(f)
          try Some(org.apache.commons.io.IOUtils.toByteArray(in)) finally in.close()
        }
    }
    bytes.map { b =>
      val gen = new String(b, "UTF-8").trim
      if (gen.isEmpty) throw new BlankGenerationPointerException(
        s"generation pointer $f is blank: the publish that wrote it did not complete, " +
          "so no generation is named — restore it to the last published gen<N>")
      gen
    }
  }

  /** Point `base`'s `_CURRENT` at `gen`, and drop the schema entries of
    * the directories this makes unreachable ([[ParquetDirs.retain]]).
    */
  def publish(spark: SparkSession, base: String, gen: String): Unit = {
    val f = new Path(base, Name)
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    LocalPath(fs, f) match {
      case Some(target) =>
        Files.createDirectories(target.getParent)
        // a pointer written through the checksummed view left a sidecar
        // that would no longer match
        Files.deleteIfExists(target.resolveSibling(s".$Name.crc"))
        val tmp = LocalPath.temporary(target, gen.getBytes("UTF-8"))
        try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        finally Files.deleteIfExists(tmp)
      case None =>
        val out = fs.create(f, true)
        try out.write(gen.getBytes("UTF-8")) finally out.close()
    }
    ParquetDirs.retain(base, gen)
  }
}

/** A `_CURRENT` pointer exists but names no generation. */
final class BlankGenerationPointerException(msg: String) extends RuntimeException(msg)

/** The local file behind `p` when `fs` is the local filesystem. */
private[graft] object LocalPath {
  def apply(fs: FileSystem, p: Path): Option[java.nio.file.Path] = fs match {
    case local: LocalFileSystem => Some(local.pathToFile(p).toPath)
    case raw: RawLocalFileSystem => Some(raw.pathToFile(p).toPath)
    case _ => None
  }

  /** A new uniquely named hidden file next to `target` holding
    * `content`, created with the default permissions (a JDK temporary
    * file is owner-only, which would carry over to `target`).
    */
  def temporary(target: java.nio.file.Path, content: Array[Byte]): java.nio.file.Path =
    Files.write(target.resolveSibling(s".${target.getFileName}.${java.util.UUID.randomUUID}.tmp"),
      content, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
}

/** Create-if-absent of a small marker file, exclusive across processes:
  * of any number of racing creators exactly one gets `true`, and no
  * reader sees the file without its content. Hadoop's
  * `create(overwrite = false)` is exclusive on HDFS-like stores but
  * checks and then creates on the local filesystem, where two processes
  * can both succeed; there the content goes to a private temporary file
  * that is hard-linked into place, and `link` fails atomically when the
  * name exists.
  */
private[graft] object ExclusiveCreate {
  def apply(fs: FileSystem, p: Path, content: Array[Byte]): Boolean = LocalPath(fs, p) match {
    case Some(target) => link(target, content)
    case None =>
      try {
        val out = fs.create(p, false)
        try out.write(content) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
  }

  private def link(target: java.nio.file.Path, content: Array[Byte]): Boolean = {
    val tmp = LocalPath.temporary(target, content)
    try {
      Files.createLink(target, tmp)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }
}

/** Schema-once reads of the parquet directories the engine writes
  * (generations, merge-on-read segments, mapping-log segments). A bare
  * `spark.read.parquet(dir)` runs a footer-inference Spark job on every
  * call; here a directory's schema is known from the write that made it
  * — the written frame's schema with every field nullable, which is what
  * Spark's parquet writer stores — or inferred once on its first read.
  *
  * Each entry is stamped with the directory's modification time, so a
  * directory rewritten in place (a generation number reused after a
  * rollback, an abort or a crash before the pointer flip) is re-inferred
  * rather than served its old schema; the engine's own rewrites also
  * re-record. Entries are held per table (the directory's parent) and
  * dropped when a publish makes their directories unreachable
  * ([[retain]]): a table holds its published generation, that
  * generation's segment logs, and whatever else was read since the last
  * publish — the directories still live, not one entry per batch ever
  * written.
  */
private[graft] object ParquetDirs {
  private final case class Entry(stamp: Long, schema: StructType)
  private val tables = scala.collection.concurrent.TrieMap.empty[String,
    scala.collection.concurrent.TrieMap[String, Entry]]

  private def entries(dir: Path) =
    tables.getOrElseUpdate(dir.getParent.toString, scala.collection.concurrent.TrieMap.empty)

  /** Keep only `table`'s entries for directory `live` and the segment
    * logs bound to it ([[SegmentLog.boundTo]]).
    */
  def retain(table: String, live: String): Unit =
    tables.get(new Path(table).toString).foreach { m =>
      m.keys.foreach(name => if (name != live && !SegmentLog.boundTo(name, live)) m.remove(name))
    }

  private def stamp(spark: SparkSession, dir: Path): Option[Long] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try Some(fs.getFileStatus(dir).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Write `df` to `dir` and record the schema the files now carry. */
  def write(df: DataFrame, dir: String, mode: SaveMode): Unit = {
    df.write.mode(mode).parquet(dir)
    val p = new Path(dir)
    stamp(df.sparkSession, p).foreach(s => entries(p).put(p.getName, Entry(s, SchemaEvolution.nullable(df.schema))))
  }

  /** The schema of `dir` as a fresh `spark.read.parquet` would infer it. */
  def schema(spark: SparkSession, dir: String): StructType =
    recorded(spark, dir).getOrElse {
      val p = new Path(dir)
      val s = stamp(spark, p)
      val inferred = spark.read.parquet(dir).schema // a missing dir fails here, as before
      s.foreach(v => entries(p).put(p.getName, Entry(v, inferred)))
      inferred
    }

  /** The entry `dir` holds without inferring one: None when nothing is
    * recorded, or the directory changed since.
    */
  def recorded(spark: SparkSession, dir: String): Option[StructType] = {
    val p = new Path(dir)
    stamp(spark, p).flatMap(v => entries(p).get(p.getName).filter(_.stamp == v)).map(_.schema)
  }

  /** `spark.read.parquet(dir)` without the inference job. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(schema(spark, dir)).parquet(dir)
}

/** An append-only log of parquet segments bound to one published
  * generation: `<base>/<prefix>_<gen>_<k>`, k = 0, 1, … Serves the
  * destination's merge-on-read delta log (`mordelta`) and the mapping
  * store's record log (`mlog`). Segments are immutable; a reader takes
  * the committed ones at read time and reconciles latest-per-key.
  */
private[graft] object SegmentLog {
  /** Whether directory `name` is a segment of a log bound to generation
    * `gen` (`<prefix>_<gen>_<k>`, any prefix).
    */
  def boundTo(name: String, gen: String): Boolean =
    name.matches(s"[a-z]+_${java.util.regex.Pattern.quote(gen)}_\\d+")

  private def dirs(fs: FileSystem, base: Path, prefix: String, gen: String): Seq[(Long, Path)] = {
    val name = s"${prefix}_${gen}_(\\d+)".r
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.flatMap { s =>
      s.getPath.getName match {
        case name(k) if s.isDirectory => Some(k.toLong -> s.getPath)
        case _ => None
      }
    }.sortBy(_._1)
  }

  private def fsOf(spark: SparkSession, base: String) = {
    val p = new Path(base)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Indexes of the committed segments, oldest first. A segment counts
    * only once its `_SUCCESS` marker exists: an append killed mid-write
    * leaves a directory holding only the committer's `_temporary`,
    * which no reader may see.
    */
  def committed(spark: SparkSession, base: String, prefix: String, gen: String): Seq[Long] = {
    val (fs, p) = fsOf(spark, base)
    dirs(fs, p, prefix, gen).collect { case (k, d) if fs.exists(new Path(d, "_SUCCESS")) => k }
  }

  /** Append `df` as the next segment and return its index. The index is
    * taken past every segment directory, committed or not, so a crashed
    * append's debris is never reused; `ErrorIfExists` turns two
    * appenders racing for one index into a visible failure.
    */
  def append(df: DataFrame, base: String, prefix: String, gen: String): Long = {
    val (fs, p) = fsOf(df.sparkSession, base)
    val k = dirs(fs, p, prefix, gen).lastOption.fold(0L)(_._1 + 1)
    ParquetDirs.write(df, s"$base/${prefix}_${gen}_$k", SaveMode.ErrorIfExists)
    k
  }

  /** Read segment `k` (schema-once). */
  def read(spark: SparkSession, base: String, prefix: String, gen: String, k: Long): DataFrame =
    ParquetDirs.read(spark, s"$base/${prefix}_${gen}_$k")

  /** Latest-per-key reconcile of aligned segments given oldest first:
    * a row survives when no later segment carries its key, so every
    * row of a key's latest segment survives. Keys group as Spark groups
    * them (NULL with NULL). A single segment is returned as is.
    */
  def latestPerKey(segments: Seq[DataFrame], keys: Seq[Column]): DataFrame =
    if (segments.size == 1) segments.head
    else {
      val seq = "_segment_seq"
      segments.zipWithIndex
        .map { case (df, i) => df.withColumn(seq, lit(i)) }
        .reduce(_ unionByName _)
        .withColumn("_segment_max", max(col(seq)).over(Window.partitionBy(keys: _*)))
        .filter(col(seq) === col("_segment_max"))
        .drop(seq, "_segment_max")
    }
}
