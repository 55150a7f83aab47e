package graft.mapper

import graft.SparkSpec
import graft.drivers.{BlankGenerationPointerException, ParquetDirs, SegmentLog}
import graft.spec._
import org.apache.spark.sql.DataFrame

/** The mapping store's record log: a non-bucketed table appends each
  * record as a segment and reads generation ⊎ log; a bucketed table
  * rewrites the whole table on every record, as the store always did.
  * The bucketed store is therefore the reference the log must match.
  */
class MappingLogSpec extends SparkSpec {
  import spark.implicits._

  private def spec(srcIds: String*) = MigrationSpec("m", source = "", sourceDriver = "x",
    destination = "", destinationDriver = "x",
    sourceIds = srcIds.map(IdField(_)), destinationIds = Seq(IdField("id")))

  private def rows(store: MappingStore, sp: MigrationSpec): Seq[String] =
    store.load(spark, sp).get.drop(MappingStore.UpdatedCol)
      .select("source_a", "source_b", "dest_id", "status")
      .collect().map(_.toString).toSeq.sorted

  private def dirs(base: String): Seq[String] =
    new java.io.File(s"$base/m").listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted

  /** `(a, b, id)` keyed mapping rows; `b` may be NULL. */
  private def keyed(rs: (Long, java.lang.Long, Long)*): DataFrame =
    rs.toDF("source_a", "source_b", "dest_id")

  private def orphans(ids: Long*): DataFrame = ids.toDF("dest_id")

  /** Record the same batches into a log store and a full-rewrite store,
    * comparing their reads after every record.
    */
  private def replay(batches: Seq[(MappingStore, MigrationSpec) => Unit]): (String, String) = {
    val (logBase, fullBase) = (scratchDir("mlog_log"), scratchDir("mlog_full"))
    val log = new MappingStore(logBase)
    val full = new MappingStore(fullBase, buckets = Some(2))
    val sp = spec("a", "b")
    batches.zipWithIndex.foreach { case (b, i) =>
      b(log, sp)
      b(full, sp)
      val (got, want) = (rows(log, sp), rows(full, sp))
      assert(got == want, s"after batch $i: ${got.diff(want).take(3)} extra, " +
        s"${want.diff(got).take(3)} missing")
    }
    (logBase, fullBase)
  }

  test("mapping log: reads and compaction equal the full rewrite — keyed, orphan, NULL key component") {
    val n = 11
    val batches = (0 until n).map { i => (s: MappingStore, sp: MigrationSpec) =>
      // re-arriving keys, a key twice in one batch, a composite key with a
      // NULL component (matches nothing, so every copy is kept) and orphan
      // bookkeeping rows keyed by their overlapping dest ids
      s.record(spark, sp, keyed((1L, 1L, 100L + i), (i.toLong, 2L, 200L + i),
        (i.toLong, 2L, 300L + i), (7L, null, 400L + i)), MappingStore.StatusMigrated)
      if (i % 3 == 1) s.recordOrphansKept(spark, sp, orphans(i.toLong, i.toLong + 1))
      if (i % 4 == 2) s.record(spark, sp, keyed((1L, 1L, 900L + i)), MappingStore.StatusStub)
    }
    val (logBase, _) = replay(batches)
    // the log was used and folded: more than one generation, segments on both
    val d = dirs(logBase)
    assert(d.count(_.startsWith("gen")) >= 2 && d.exists(_.startsWith("mlog_gen0_")) &&
      d.exists(_.startsWith("mlog_gen1_")), s"expected a compacted log, found $d")
  }

  test("mapping log: a spec widening between batches compacts and keeps the widened-column wildcard") {
    val (logBase, fullBase) = (scratchDir("mlog_wlog"), scratchDir("mlog_wfull"))
    val log = new MappingStore(logBase)
    val full = new MappingStore(fullBase, buckets = Some(2))
    val narrow = spec("a")
    val wide = spec("a", "b")
    def both(sp: MigrationSpec, df: DataFrame): Unit =
      Seq(log, full).foreach(_.record(spark, sp, df, MappingStore.StatusMigrated))
    // gen0, its segment, and their fold into gen1, whose log is empty
    (1 to 3).foreach(i => both(narrow, Seq((1L, 10L + i), (i.toLong + 1, 20L + i)).toDF("source_a", "dest_id")))
    assert(dirs(logBase).contains("gen1") && !dirs(logBase).exists(_.startsWith("mlog_gen1_")))
    // source_b arrives: the pre-widening (1, NULL) row is replaced by (1, 5)
    both(wide, keyed((1L, 5L, 50L), (9L, 9L, 90L)))
    assert(dirs(logBase).contains("gen2") && !dirs(logBase).exists(_.startsWith("mlog_gen1_")),
      s"widening must compact, not append: ${dirs(logBase)}")
    both(wide, keyed((1L, 5L, 51L), (3L, null, 60L)))
    both(wide, keyed((9L, 9L, 91L)))
    val (got, want) = (rows(log, wide), rows(full, wide))
    assert(got == want, s"${got.diff(want)} extra, ${want.diff(got)} missing")
    assert(!got.exists(_.startsWith("[1,null,")), s"stale pre-widening row survived: $got")
  }

  test("mapping log: two committed segments read as their two records, in order") {
    val (logBase, fullBase) = (scratchDir("mlog_two"), scratchDir("mlog_two_full"))
    val log = new MappingStore(logBase)
    val full = new MappingStore(fullBase, buckets = Some(2))
    val sp = spec("a", "b")
    val recs = Seq(keyed((1L, 1L, 10L), (2L, 2L, 20L)), keyed((1L, 1L, 11L), (3L, null, 30L)),
      keyed((2L, 2L, 21L), (3L, null, 31L)))
    recs.foreach(full.record(spark, sp, _, MappingStore.StatusMigrated))
    log.record(spark, sp, recs.head, MappingStore.StatusMigrated)
    // records of another process, appended without the fold this one would run
    recs.tail.foreach(df => SegmentLog.append(df
      .withColumn(MappingStore.UpdatedCol, org.apache.spark.sql.functions.current_timestamp())
      .withColumn(MappingStore.StatusCol, org.apache.spark.sql.functions.lit(MappingStore.StatusMigrated)),
      s"$logBase/m", "mlog", "gen0"))
    assert(dirs(logBase).filter(_.startsWith("mlog")) == Seq("mlog_gen0_0", "mlog_gen0_1"))
    assert(rows(log, sp) == rows(full, sp))
  }

  test("mapping log: an uncommitted segment is invisible and its index is never reused") {
    val base = scratchDir("mlog_tmp")
    val store = new MappingStore(base)
    val sp = spec("a", "b")
    store.record(spark, sp, keyed((1L, 1L, 10L)), MappingStore.StatusMigrated)
    // an append killed mid-write: only the committer's _temporary
    new java.io.File(s"$base/m/mlog_gen0_0/_temporary/0").mkdirs()
    assert(rows(store, sp) == Seq("[1,1,10,migrated]"))
    store.record(spark, sp, keyed((1L, 1L, 11L)), MappingStore.StatusMigrated)
    assert(dirs(base).filter(_.startsWith("mlog")) == Seq("mlog_gen0_0", "mlog_gen0_1"),
      "the append takes an index past the debris")
    assert(rows(store, sp) == Seq("[1,1,11,migrated]"))
    // the next record folds the committed segment, and only it
    store.record(spark, sp, keyed((2L, 2L, 20L)), MappingStore.StatusMigrated)
    assert(dirs(base).contains("gen1"))
    assert(rows(store, sp) == Seq("[1,1,11,migrated]", "[2,2,20,migrated]"))
  }

  test("mapping log: debris of a killed compaction is neither read nor kept") {
    val base = scratchDir("mlog_compact_crash")
    val store = new MappingStore(base)
    val sp = spec("a", "b")
    (0 to MappingStore.LogCompactAt).foreach(i =>
      store.record(spark, sp, keyed((i.toLong, 1L, 10L + i)), MappingStore.StatusMigrated))
    val want = rows(store, sp)
    // the compaction's next generation, written but never published,
    // with rows and a schema of its own — and its schema once read
    Seq(("junk", 1)).toDF("x", "y").write.parquet(s"$base/m/gen1")
    assert(ParquetDirs.schema(spark, s"$base/m/gen1").fieldNames.toSeq == Seq("x", "y"))
    assert(rows(store, sp) == want)
    // the next record compacts over the debris
    store.record(spark, sp, keyed((99L, 1L, 99L)), MappingStore.StatusMigrated)
    assert(new java.io.File(s"$base/m/_CURRENT").length() > 0 && dirs(base).contains("gen1"))
    assert(rows(store, sp) == (want :+ "[99,1,99,migrated]").sorted)
  }

  test("mapping store: a blank generation pointer fails loudly") {
    val base = scratchDir("mlog_blank")
    val store = new MappingStore(base)
    val sp = spec("a", "b")
    store.record(spark, sp, keyed((1L, 1L, 10L)), MappingStore.StatusMigrated)
    // a publish cut between its truncate and its write
    val ptr = new org.apache.hadoop.fs.Path(s"$base/m/_CURRENT")
    val out = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration).create(ptr, true)
    try out.write(" \n".getBytes("UTF-8")) finally out.close()
    val e = intercept[BlankGenerationPointerException](store.load(spark, sp))
    assert(e.getMessage.contains("_CURRENT"))
    intercept[BlankGenerationPointerException](
      store.record(spark, sp, keyed((2L, 2L, 20L)), MappingStore.StatusMigrated))
  }

  test("schema cache: mapping generations and log segments record what Spark infers") {
    val base = scratchDir("mlog_schema")
    val store = new MappingStore(base)
    val sp = spec("a", "b")
    store.record(spark, sp, keyed((1L, 1L, 10L)), MappingStore.StatusMigrated)
    store.record(spark, sp, keyed((1L, 1L, 11L)), MappingStore.StatusMigrated)
    Seq("gen0", "mlog_gen0_0").foreach { d =>
      val dir = s"$base/m/$d"
      val recorded = ParquetDirs.recorded(spark, dir)
      assert(recorded.contains(spark.read.parquet(dir).schema), s"$d: recorded $recorded")
    }
  }
}
