package graft.drivers

import graft.SparkSpec
import graft.spec._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

class DriversSpec extends SparkSpec {
  private def mkSpec(src: String, dst: String, srcIds: Seq[IdField] = Seq(IdField("id")),
      dstIds: Seq[IdField] = Seq(IdField("id"))) =
    MigrationSpec("t", source = src, sourceDriver = "x", destination = dst,
      destinationDriver = "x", sourceIds = srcIds, destinationIds = dstIds)

  test("CSV source errors on empty and header-only files (reference parity)") {
    import java.nio.file.{Files, Paths}
    val dir = scratchDir("csv_empty")
    Files.writeString(Paths.get(dir, "empty.csv"), "")
    Files.writeString(Paths.get(dir, "header_only.csv"), "id,field1\n")
    assertThrows[EmptySourceException](
      new CsvSourceDriver().read(spark, mkSpec(s"$dir/header_only.csv", "n/a")))
  }

  test("CSV sink writes header and round-trips through CSV source") {
    import spark.implicits._
    val dir = scratchDir("csv_rt")
    val df = Seq((1L, "Test", "Data"), (2L, "Other", "Row"))
      .toDF("id", "field1", "field2")
    val s = mkSpec(s"$dir/out", s"$dir/out")
    new CsvDestinationDriver().write(df, s)
    val back = new CsvSourceDriver(Some(df.schema)).read(spark, s)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      df.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("ORC sink round-trips nested columns; update run swaps atomically") {
    import spark.implicits._
    val dir = scratchDir("orc_rt")
    val s = mkSpec(s"$dir/out", s"$dir/out")
    val d = new OrcDestinationDriver
    val v1 = Seq((1L, "a", Seq(1, 2)), (2L, "b", Seq(3))).toDF("id", "v", "xs")
    d.write(v1, s)
    // second write consumes a plan reading the current output (the
    // executor's update-run shape) — staged swap must not break it
    val merged = d.snapshot(spark, s).get.withColumn("v", upper(col("v")))
    d.write(merged, s)
    val back = new OrcSourceDriver().read(spark, s).orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1), r.getSeq[Int](2))).toSeq ==
      Seq((1L, "A", Seq(1, 2)), (2L, "B", Seq(3))))
    // no stage/old residue after commit
    assert(!new java.io.File(s"$dir/.out__stage").exists())
    assert(!new java.io.File(s"$dir/.out__old").exists())
  }

  test("orc:// scheme resolves the ORC driver pair") {
    assert(graft.cli.DriverRegistry.sourceForUri("orc:///d/x").isInstanceOf[OrcSourceDriver])
    assert(graft.cli.DriverRegistry.destinationForUri("orc:///d/x").isInstanceOf[OrcDestinationDriver])
  }

  test("parquet sink generation pointer: snapshot survives overwrite-in-flight") {
    import spark.implicits._
    val dir = scratchDir("pq_gen")
    val s = mkSpec("n/a", s"$dir/out")
    val d = new ParquetDestinationDriver
    d.write(Seq((1L, "a")).toDF("id", "v"), s)
    d.write(Seq((1L, "b"), (2L, "c")).toDF("id", "v"), s)
    val snap = d.snapshot(spark, s).get.orderBy("id").collect()
    assert(snap.map(_.getString(1)).toSeq == Seq("b", "c"))
    // both generations exist on disk; pointer names the latest
    assert(new java.io.File(s"$dir/out/gen0").exists())
    assert(new java.io.File(s"$dir/out/gen1").exists())
    // time travel: the pre-overwrite snapshot stays readable by number
    assert(d.generations(spark, s) == Seq(0L, 1L))
    val g0 = d.snapshotAt(spark, s, 0).get.collect()
    assert(g0.map(_.getString(1)).toSeq == Seq("a"))
    assert(d.snapshotAt(spark, s, 7).isEmpty)
  }

  test("writePartitions compacts each generation to N files") {
    import spark.implicits._
    val dir = scratchDir("pq_compact")
    val s = mkSpec("n/a", s"$dir/out")
    val wide = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v").repartition(16)
    new ParquetDestinationDriver(writePartitions = Some(2)).write(wide, s)
    val files = new java.io.File(s"$dir/out/gen0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 2, s"expected 2 compacted files, got ${files.length}")
    assert(spark.read.parquet(s"$dir/out/gen0").count() == 200)
  }

  test("size-targeted compact: byte-derived file plan, data parity, old gen intact") {
    import spark.implicits._
    val dir = scratchDir("pq_sizecompact")
    val s = mkSpec("n/a", s"$dir/out")
    val d = new ParquetDestinationDriver
    val data = (1L to 500L).map(i => (i, s"value_$i")).toDF("id", "v")
    d.write(data.repartition(16), s)
    val (before, bytes, after, planned) = d.compact(spark, s, targetBytes = 1L << 40)
    assert(before == 16L && planned == 1L && after == 1L,
      s"huge target packs to one file: before=$before after=$after planned=$planned")
    assert(bytes > 0)
    // snapshot content survives; the fragmented gen0 is still readable
    assert(d.snapshot(spark, s).get.count() == 500)
    assert(d.snapshotAt(spark, s, 0L).get.count() == 500)
    // a second compact with a tiny target splits again per measured bytes
    val (_, bytes2, after2, planned2) = d.compact(spark, s, targetBytes = math.max(1, bytes / 4))
    assert(after2 == planned2 && after2 >= 2, s"tiny target must split: $after2")
    assert(bytes2 > 0)
  }

  test("WAP staging: stage never publishes, abort refuses the published gen") {
    import spark.implicits._
    val dir = scratchDir("pq_wap")
    val s = mkSpec("n/a", s"$dir/out")
    val d = new ParquetDestinationDriver
    d.write(Seq((1L, "base")).toDF("id", "v"), s)
    val g = d.stage(Seq((2L, "staged")).toDF("id", "v"), s)
    assert(g == "gen1")
    // readers still see the published baseline; auditors can read the stage
    assert(d.snapshot(spark, s).get.head().getString(1) == "base")
    assert(d.snapshotAt(spark, s, 1L).get.head().getString(1) == "staged")
    // abort removes the candidate; the published gen is refused
    d.abortStaged(spark, s, g)
    assert(d.snapshotAt(spark, s, 1L).isEmpty)
    intercept[IllegalArgumentException](d.abortStaged(spark, s, "gen0"))
    // a fresh stage reuses the freed slot and publish flips atomically
    val g2 = d.stage(Seq((3L, "v2")).toDF("id", "v"), s)
    assert(g2 == "gen1")
    d.publish(spark, s, g2)
    assert(d.snapshot(spark, s).get.head().getString(1) == "v2")
    // and a subsequent plain write continues the generation chain
    d.write(Seq((4L, "v3")).toDF("id", "v"), s)
    assert(d.snapshot(spark, s).get.head().getString(1) == "v3")
    assert(d.generations(spark, s) == Seq(0L, 1L, 2L))
  }

  test("generation vacuum keeps the newest N dirs; snapshot still reads after") {
    import spark.implicits._
    val dir = scratchDir("pq_vac")
    val s = mkSpec("n/a", s"$dir/out")
    val d = new ParquetDestinationDriver(keepGenerations = Some(2))
    (0 until 4).foreach { i =>
      d.write(Seq((1L, s"v$i")).toDF("id", "v"), s)
      d.appendDelta(Seq((1L, s"d$i")).toDF("id", "v"), s)
    }
    def dirs(prefix: String) = new java.io.File(s"$dir/out").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(prefix)).map(_.getName).sorted.toSeq
    assert(dirs("gen") == Seq("gen2", "gen3"), s"older generations vacuumed: ${dirs("gen")}")
    assert(dirs("mordelta") == Seq("mordelta_gen2_0", "mordelta_gen3_0"),
      s"a vacuumed generation's delta log goes with it: ${dirs("mordelta")}")
    assert(d.snapshot(spark, s).get.head().getString(1) == "v3")
  }

  test("YAML path codec: ids from path segments, filename is last id") {
    assert(YamlPathCodec.idsFromPath("/base/group1/file1.yaml", 2) == Seq("group1", "file1"))
    assert(YamlPathCodec.idsFromPath("/base/x/y/z.yml", 3) == Seq("x", "y", "z"))
    assert(YamlPathCodec.idsFromPath("/base/solo.yaml", 1) == Seq("solo"))
    assert(YamlPathCodec.pathFromIds(Seq("g", "f")) == "g/f.yaml")
    assert(YamlPathCodec.pathFromIds(Seq("f")) == "f.yaml")
  }

  test("YAML sink writes one file per entity, ids in path not body; source re-injects ids") {
    import spark.implicits._
    val dir = scratchDir("yaml_rt")
    val ids = Seq(IdField("grp", StringId), IdField("name", StringId))
    val s = mkSpec(s"$dir/out", s"$dir/out", ids, ids)
    val df = Seq(("group1", "file1", "Test", 1L), ("group1", "file2", "Test", 2L),
      ("group2", "file3", "Test", 3L))
      .toDF("grp", "name", "field1", "field2")
    new YamlDestinationDriver().write(df, s)
    val f = new java.io.File(s"$dir/out/group1/file1.yaml")
    assert(f.exists(), "per-entity file at id-derived path")
    val body = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    assert(!body.contains("grp"), "id columns removed from body")
    assert(body.contains("field1"))
    val back = new YamlSourceDriver().read(spark, s)
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("grp", "name", "field1", "field2"))
    assert(back.filter(col("grp") === "group2").select("name").head().getString(0) == "file3")
  }

  test("YAML sink cap trips loudly above maxEntities; consolidated layout is the escape hatch") {
    import spark.implicits._
    val dir = scratchDir("yaml_cap")
    val ids = Seq(IdField("grp", StringId), IdField("name", StringId))
    val s = mkSpec(s"$dir/out", s"$dir/out", ids, ids)
    val df = (1 to 10).map(i => (s"g${i % 2}", s"f$i", s"v$i"))
      .toDF("grp", "name", "field1")
    // cap below the row count: the write must fail BEFORE creating files
    val e = intercept[IllegalStateException] {
      new YamlDestinationDriver(maxEntities = Some(5L)).write(df, s)
    }
    assert(e.getMessage.contains("cap 5") && e.getMessage.contains("consolidate"),
      s"error must name the cap and the escape hatch: ${e.getMessage}")
    assert(!new java.io.File(s"$dir/out").exists() ||
      new java.io.File(s"$dir/out").listFiles().isEmpty,
      "no files may land when the cap trips")
    // escape hatch: consolidated write is exempt from the per-entity cap
    // (file count is |prefixes|), documents carry the last id inline
    new YamlDestinationDriver(maxEntities = Some(5L), consolidate = true).write(df, s)
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".yaml")).map(_.getName).sorted
    assert(files.toSeq == Seq("g0.yaml", "g1.yaml"),
      s"one multi-document file per prefix: ${files.mkString(", ")}")
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/out/g0.yaml")), "UTF-8")
    assert(body.contains("name:"), "last id travels inside each document")
    assert(body.linesIterator.count(_.startsWith("---")) == 5,
      "one explicit document start per entity")
    // reread through the same machinery: prefix ids declare the tree,
    // the last id surfaces as a body column
    val back = new YamlSourceDriver().read(spark, s.copy(sourceIds = s.sourceIds.init))
    assert(back.count() == 10)
    assert(back.columns.toSet == Set("grp", "name", "field1"))
    assert(back.filter(col("grp") === "g1" && col("name") === "f3")
      .select("field1").head().getString(0) == "v3")
  }

  test("YAML source reads a RELATIVE root (UriSchemes path shape)") {
    // regression: the depth check must compare against the FS-qualified
    // root — a bare relative root never prefix-matched the qualified
    // listing paths, so every file was "wrong depth" and the tree
    // silently read as empty
    import spark.implicits._
    val rel = s"target/yaml_rel_${System.nanoTime()}"
    try {
      val ids = Seq(IdField("grp", StringId), IdField("name", StringId))
      val s = mkSpec(s"$rel/out", s"$rel/out", ids, ids)
      val df = Seq(("g1", "f1", "A"), ("g2", "f2", "B")).toDF("grp", "name", "field1")
      new YamlDestinationDriver().write(df, s)
      val back = new YamlSourceDriver().read(spark, s)
      assert(back.count() == 2, "relative root must not silently read as empty")
      assert(back.columns.toSet == Set("grp", "name", "field1"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).toSeq.flatten.foreach(rm); f.delete()
      }
      rm(new java.io.File(rel))
    }
  }

  test("stray YAML files are skipped by the listing AND by schema inference") {
    // regression: inference used to run its own recursive glob, so a
    // stray README.yaml the index skips still contributed columns —
    // same tree, different schema depending on cache state
    import spark.implicits._
    val dir = scratchDir("yaml_stray")
    val ids = Seq(IdField("grp", StringId), IdField("name", StringId))
    val s = mkSpec(s"$dir/out", s"$dir/out", ids, ids)
    val df = Seq(("g1", "f1", "A"), ("g1", "f2", "B")).toDF("grp", "name", "field1")
    new YamlDestinationDriver().write(df, s)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/out/README.yaml"), "note: stray\n")
    new java.io.File(s"$dir/out/g1/deep").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/out/g1/deep/x.yaml"), "hidden: 1\n")
    val back = new YamlSourceDriver().read(spark, s)
    assert(back.count() == 2, "strays must not surface as rows")
    assert(!back.columns.contains("note") && !back.columns.contains("hidden"),
      "schema inference must not read files the listing skips")
  }

  test("YAML 3-id layouts round-trip (recursive directory scan, reference Finder parity)") {
    import spark.implicits._
    val dir = scratchDir("yaml_deep")
    val ids = Seq(IdField("region", StringId), IdField("grp", StringId), IdField("name", StringId))
    val s = mkSpec(s"$dir/out", s"$dir/out", ids, ids)
    val df = Seq(("emea", "group1", "file1", "A"), ("emea", "group2", "file2", "B"),
      ("apac", "group1", "file3", "C"))
      .toDF("region", "grp", "name", "field1")
    new YamlDestinationDriver().write(df, s)
    assert(new java.io.File(s"$dir/out/emea/group1/file1.yaml").exists(),
      "3-id entity lands at a 3-level path")
    val back = new YamlSourceDriver().read(spark, s)
    assert(back.count() == 3, "recursive scan must reach 3-level files")
    assert(back.orderBy("name").collect().map(r =>
      (r.getAs[String]("region"), r.getAs[String]("grp"),
        r.getAs[String]("name"), r.getAs[String]("field1"))).toSeq ==
      Seq(("emea", "group1", "file1", "A"), ("emea", "group2", "file2", "B"),
        ("apac", "group1", "file3", "C")).sortBy(_._3))
    // string ids prune too: a top-level id predicate on the 3-deep tree
    // must open only the matching subtree's files
    val emea = back.filter(org.apache.spark.sql.functions.col("region") === "emea")
    emea.collect()
    val scan = emea.queryExecution.executedPlan.collectFirst {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }.getOrElse(fail("no file scan in pruned plan"))
    assert(scan.metrics("numFiles").value == 2,
      s"region=emea must read exactly its 2 files, read ${scan.metrics("numFiles").value}")
  }

  test("YAML sink options: indent width and anchor/alias refs for repeated subtrees") {
    import spark.implicits._
    val dir = scratchDir("yaml_refs")
    val ids = Seq(IdField("name", StringId))
    val s = mkSpec(s"$dir/out", s"$dir/out", ids, ids)
    // two struct columns with identical content → one anchor + one alias
    val df = Seq(("doc1", ("x", 1L), ("x", 1L), "plain"))
      .toDF("name", "meta_a", "meta_b", "note")
    new YamlDestinationDriver(indent = 4, refs = true).write(df, s)
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/out/doc1.yaml")), "UTF-8")
    assert(body.contains("&id") && body.contains("*id"),
      s"repeated subtree must anchor+alias:\n$body")
    assert(body.linesIterator.exists(_.startsWith("    _1")),
      s"nested keys must use the 4-space indent option:\n$body")
    // aliases resolve on read: both struct columns come back equal
    val back = new YamlSourceDriver().read(spark, s).head()
    assert(back.getAs[org.apache.spark.sql.Row]("meta_a") ==
      back.getAs[org.apache.spark.sql.Row]("meta_b"))
    assert(back.getAs[String]("note") == "plain")
  }

  test("YAML refs include/exclude path filters gate which subtrees anchor") {
    import spark.implicits._
    val ids = Seq(IdField("name", StringId))
    // meta_a == meta_b and data_a == data_b: unfiltered refs would anchor
    // both pairs; the filters decide which pair actually shares
    val df = Seq(("doc1", ("x", 1L), ("x", 1L), ("y", 2L), ("y", 2L)))
      .toDF("name", "meta_a", "meta_b", "data_a", "data_b")
    def write(dir: String, include: Seq[String], exclude: Seq[String]): String = {
      val s = mkSpec(s"$dir/out", s"$dir/out", ids, ids)
      new YamlDestinationDriver(refs = true,
        refsInclude = include, refsExclude = exclude).write(df, s)
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/out/doc1.yaml")), "UTF-8")
    }
    def anchors(body: String): Int = body.sliding(3).count(_ == "&id")
    // include: only meta_* may anchor → exactly one anchor (meta pair),
    // data pair serializes inline twice (reference 'build included refs')
    val inc = write(scratchDir("yaml_inc"), include = Seq("meta_.*"), exclude = Nil)
    assert(anchors(inc) == 1, s"one anchor for the meta pair only:\n$inc")
    assert(inc.contains("data_b:\n"), s"data_b must inline, not alias:\n$inc")
    // exclude: meta_* may NOT anchor → the data pair anchors instead
    // (reference 'build excluded refs')
    val exc = write(scratchDir("yaml_exc"), include = Nil, exclude = Seq("meta_.*"))
    assert(anchors(exc) == 1, s"one anchor for the data pair only:\n$exc")
    assert(exc.contains("meta_b:\n"), s"meta_b must inline, not alias:\n$exc")
    // exclude wins over include (reference 'build complex refs')
    val both = write(scratchDir("yaml_both"),
      include = Seq("meta_.*", "data_.*"), exclude = Seq("data_.*"))
    assert(anchors(both) == 1 && both.contains("data_b:\n"),
      s"include+exclude: only meta anchors:\n$both")
  }

  test("format-scheme URIs round-trip through CSV and YAML drivers (path stripping)") {
    import spark.implicits._
    // reference-style csv://<path> and yaml://<path> URIs must reach the
    // filesystem with the format scheme stripped, on both read and write
    val csvDir = scratchDir("scheme_csv")
    val csvSpec = mkSpec(s"csv://$csvDir/out", s"csv://$csvDir/out")
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "field1")
    new CsvDestinationDriver().write(df, csvSpec)
    assert(new java.io.File(s"$csvDir/out").isDirectory, "csv:// stripped to a real path")
    assert(new CsvSourceDriver(Some(df.schema)).read(spark, csvSpec).count() == 2)

    val yamlDir = scratchDir("scheme_yaml")
    val ids = Seq(IdField("name", StringId))
    val yamlSpec = mkSpec(s"yaml://$yamlDir/out", s"yaml://$yamlDir/out", ids, ids)
    new YamlDestinationDriver().write(
      Seq(("doc1", "v")).toDF("name", "field1"), yamlSpec)
    assert(new java.io.File(s"$yamlDir/out/doc1.yaml").exists())
    assert(new YamlSourceDriver().read(spark, yamlSpec).count() == 1)
  }

  test("CSV write-time column validator flags all-null drift columns") {
    import spark.implicits._
    val dir = scratchDir("csv_drift")
    val s = mkSpec(s"$dir/out", s"$dir/out")
    val drifted = Seq((1L, "a"), (2L, "b")).toDF("id", "field1")
      .withColumn("ghost", lit(null).cast("string"))
    assertThrows[ColumnDriftException](new CsvDestinationDriver().write(drifted, s))
    // disabled => writes fine
    spark.conf.set("graft.csv.validateColumns", "false")
    try new CsvDestinationDriver().write(drifted, s)
    finally spark.conf.unset("graft.csv.validateColumns")
    assert(new java.io.File(s"$dir/out").exists())
  }

  test("destination keyed read errors on duplicate keys (uniqueness guard)") {
    import spark.implicits._
    val dir = scratchDir("dup_keys")
    val s = mkSpec("n/a", s"$dir/out")
    val d = new ParquetDestinationDriver
    d.write(Seq((1L, "a"), (1L, "b")).toDF("id", "v"), s)
    assertThrows[NonUniqueKeyException](d.readByIds(spark, s, Map("id" -> 1L)))
  }

  test("JDBC MERGE upsert: incremental writes update-or-insert by key") {
    import spark.implicits._
    val db = scratchDir("derby_merge") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val s = mkSpec("n/a", url)
    val d = new JdbcDestinationDriver("items", props, merge = true)
    d.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), s)
    // second merge: update key 1, insert key 3; key 2 untouched
    d.write(Seq((1L, "a2"), (3L, "c")).toDF("id", "v"), s)
    val back = d.snapshot(spark, s).get.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq((1L, "a2"), (2L, "b"), (3L, "c")))
  }

  test("self-referencing dataset resolves through chunked (flush) mode") {
    import spark.implicits._
    import graft.exec._
    import graft.mapper.MappingStore
    // employees reference managers with lower ids; a single-pass run sees
    // an empty snapshot, chunked execution sees earlier chunks' writes —
    // the reason flush=true exists in the reference
    val base = scratchDir("selfref")
    val theSpec = MigrationSpec("emp", source = "", sourceDriver = "inline",
      destination = s"$base/dest", destinationDriver = "parquet",
      sourceIds = Seq(IdField("id")), destinationIds = Seq(IdField("id")),
      flush = true)
    val mapper = new MappingStore(s"$base/map")
    val exec = new MigrationExecutor(mapper, new ReferenceStore(mapper), KeepOrphans)
    val employees = Seq((1L, None, "ceo"), (2L, Some(1L), "vp"),
      (3L, Some(2L), "eng"), (4L, Some(2L), "ops")).toDF("id", "manager_id", "name")
    val mig = new Migration {
      def spec: MigrationSpec = theSpec
      def transform(src: DataFrame, ctx: TransformContext): DataFrame = {
        val mgr = ctx.snapshot match {
          case Some(snap) => src.join(
            snap.select(col("id").as("mid"), col("name").as("manager_name")),
            src("manager_id") === col("mid"), "left").drop("mid")
          case None => src.withColumn("manager_name", lit(null).cast("string"))
        }
        mgr.select(col("id"), col("name"), col("manager_name"))
      }
    }
    val source = new graft.drivers.SourceDriver {
      def read(sp: org.apache.spark.sql.SparkSession, m: MigrationSpec): DataFrame = employees
    }
    val res = exec.executeChunked(spark, mig, source,
      new ParquetDestinationDriver, numChunks = 4)
    val out = res.finalSnapshot.orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).toSeq
    assert(out == Seq((1L, None), (2L, Some("ceo")), (3L, Some("vp")), (4L, Some("vp"))),
      s"chunked run must see earlier chunks' writes: ${out.mkString(",")}")
  }

  test("JDBC source+sink round-trip through embedded Derby with pushed-down query") {
    import spark.implicits._
    val db = scratchDir("derby") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver",
      "createTableColumnTypes" -> "name VARCHAR(64)")
    val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "name")
    val sinkSpec = mkSpec("n/a", url)
    new JdbcDestinationDriver("people", props).write(df, sinkSpec)
    // arbitrary-SQL scan parity: user SQL is the row stream
    val srcSpec = mkSpec(url, "n/a")
    val back = new JdbcSourceDriver(
      """SELECT "id", "name" FROM people WHERE "id" >= 2""",
      Some("""SELECT COUNT(*) AS "c" FROM people WHERE "id" >= 2"""),
      Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")).read(spark, srcSpec)
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1).trim)).toSeq ==
      Seq((2L, "beta"), (3L, "gamma")))
    assert(new JdbcSourceDriver("SELECT * FROM people",
      Some("""SELECT COUNT(*) AS "c" FROM people"""),
      Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
      .count(spark, srcSpec) == 3L)
  }

  test("reference-style database URI (no jdbc: prefix) normalizes and reads end-to-end") {
    import spark.implicits._
    val db = scratchDir("derby_uri") + "/db"
    // seed through the explicit jdbc: form
    val url = s"jdbc:derby:$db;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver",
      "createTableColumnTypes" -> "name VARCHAR(64)")
    new JdbcDestinationDriver("people", props).write(
      Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name"), mkSpec("n/a", url))
    // read back through a DriverManager-style scheme URI: `derby:...`
    // (UriSchemes.jdbcUrl adds the jdbc: prefix the Spark source needs)
    val schemeSpec = mkSpec(s"derby:$db", "n/a")
    val driver = graft.cli.DriverRegistry.sourceForUri(schemeSpec.source)
    assert(driver.isInstanceOf[JdbcSourceDriver], "derby scheme resolves to the JDBC driver")
    // scheme-resolved JDBC drivers need their SQL via configureSource:
    // unconfigured read must fail with the explanatory error
    val err = intercept[IllegalArgumentException](driver.read(spark, schemeSpec))
    assert(err.getMessage.contains("configureSource"))
    val configured = new JdbcSourceDriver("""SELECT "id", "name" FROM people""",
      properties = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
    assert(configured.read(spark, schemeSpec).count() == 2)
  }

  test("erasure: legal-hold keeps history readable, purge makes erased rows unreachable") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = scratchDir("erasure") + "/dest"
    val sp = mkSpec(dir, dir)
    val d = new ParquetDestinationDriver()
    d.write((1L to 100L).map(i => (i, s"u$i")).toDF("id", "name"), sp)

    // legal-hold mode: logical delete only — old generation stays readable
    val (b1, e1, a1) = d.erase(spark, sp, col("id") % 10 === 0, purge = false)
    assert((b1, e1, a1) == ((100L, 10L, 90L)))
    assert(d.snapshotAt(spark, sp, 0L).get.count() == 100,
      "legal hold must keep the pre-erasure generation")
    assert(d.snapshot(spark, sp).get.filter(col("id") % 10 === 0).count() == 0)

    // purge mode: physical deletion — ONLY the post-erasure generation survives
    // 14 multiples of 7 in 1..100, minus 70 (already erased) = 13
    val (b2, e2, a2) = d.erase(spark, sp, col("id") % 7 === 0, purge = true)
    assert((b2, e2, a2) == ((90L, 13L, 77L)))
    assert(d.generations(spark, sp).size == 1, "purge must drop all older generations")
    assert(d.snapshotAt(spark, sp, 0L).isEmpty && d.snapshotAt(spark, sp, 1L).isEmpty,
      "pre-erasure bytes must be unreachable after purge")
    assert(d.snapshot(spark, sp).get.count() == 77)

    // bucketed sinks refuse (their rewrite goes through the catalog)
    val bucketed = new ParquetDestinationDriver(buckets = Some(4))
    assertThrows[IllegalArgumentException](
      bucketed.erase(spark, sp, col("id") === 1L))
  }

  test("schema evolution: widen+add accepted, narrowing rejected pre-write, conform reconciles old generations") {
    import graft.spec.SchemaEvolutionException
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = scratchDir("schema-evo") + "/dest"
    val sp = mkSpec(dir, dir)
    val d = new ParquetDestinationDriver
    d.write(Seq((1, 10), (2, 20)).toDF("id", "v"), sp) // gen0: id INT, v INT
    // widen v INT->LONG, add w — legal evolution
    d.write(Seq((1L, 10L, "a"), (3L, 30L, "b")).toDF("id", "v", "w")
      .select(col("id").cast("int"), col("v"), col("w")), sp)
    // narrowing v back to INT must fail BEFORE any directory is created
    intercept[SchemaEvolutionException](
      d.write(Seq((9, 9)).toDF("id", "v"), sp))
    // ... and the same contract guards WAP staging
    intercept[SchemaEvolutionException](
      d.stage(Seq((9, 9)).toDF("id", "v"), sp))
    assert(d.generations(spark, sp) == Seq(0L, 1L),
      "a rejected write must not burn a generation number")
    // time travel across the boundary: raw gen0 keeps schema A ...
    val raw = d.snapshotAt(spark, sp, 0L).get
    assert(raw.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(raw.schema("v").dataType == org.apache.spark.sql.types.IntegerType)
    // ... and the conformed read serves it under the evolved schema
    val conf = d.snapshotAtConformed(spark, sp, 0L).get
    assert(conf.schema.fieldNames.toSeq == Seq("id", "v", "w"))
    assert(conf.schema("v").dataType == org.apache.spark.sql.types.LongType)
    val rows = conf.orderBy("id").collect().map(r =>
      (r.getInt(0), r.getLong(1), Option(r.getString(2)))).toSeq
    assert(rows == Seq((1, 10L, None), (2, 20L, None)),
      "since-added columns must come back as typed NULLs")
    // conformed old unions with the current snapshot with no plumbing
    assert(conf.unionByName(d.snapshot(spark, sp).get).count() == 4)
  }

  test("partition-spec evolution: per-generation layouts, pruned scans, guards") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = scratchDir("part-evo") + "/dest"
    val sp = mkSpec(dir, dir)
    val d = new ParquetDestinationDriver
    val rows = Seq((1L, "east", "a", 10L), (2L, "west", "a", 20L),
      (3L, "east", "b", 30L), (4L, "west", "b", 40L))
      .toDF("id", "reg", "grp", "v")
    d.writePartitioned(rows, sp, Seq("reg"))
    d.writePartitioned(rows, sp, Seq("reg", "grp"))
    assert(d.layoutOf(spark, sp, 0L) == Seq("reg"))
    assert(d.layoutOf(spark, sp, 1L) == Seq("reg", "grp"))
    // a plain (unpartitioned) generation reports an empty layout
    // evolution guard still applies through the partitioned path:
    // non-string layout columns are rejected before any write
    intercept[IllegalArgumentException](
      d.writePartitioned(rows, sp, Seq("v")))
    assert(d.generations(spark, sp) == Seq(0L, 1L),
      "a rejected partitioned write must not burn a generation number")
    // pruned scan: the partition filter reaches the directory listing —
    // the scan's partitionFilters are populated, and only one
    // partition's files are read
    val cur = d.snapshot(spark, sp).get.filter(col("reg") === "east")
    val scans = cur.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      s"partition filter did not reach the scan:\n${cur.queryExecution.executedPlan}")
    assert(cur.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(1L, 3L))
    // each generation reads by ITS OWN layout: gen0 still serves grp as
    // a data column (one-level layout), with identical content
    val old = d.snapshotAt(spark, sp, 0L).get
    assert(old.filter(col("grp") === "b").count() == 2)
    // string-typed layout columns round-trip the read schema exactly
    assert(old.schema("reg").dataType == org.apache.spark.sql.types.StringType)
  }

  test("erasure: NULL-predicate rows are retained, not silently dropped") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = scratchDir("erasure-null") + "/dest"
    val sp = mkSpec(dir, dir)
    val d = new ParquetDestinationDriver()
    // email is NULL for ids 1..3 — a predicate on email is NULL there,
    // which three-valued logic must treat as "do not erase"
    d.write((1L to 10L).map(i =>
        (i, if (i <= 3) null else s"u$i@ex.com")).toDF("id", "email"), sp)
    val (b, e, a) = d.erase(spark, sp, col("email") === "u7@ex.com", purge = true)
    assert((b, e, a) == ((10L, 1L, 9L)), s"($b, $e, $a)")
    val back = d.snapshot(spark, sp).get
    assert(back.count() == 9, "report and rewrite must agree row-for-row")
    assert(back.filter(col("email").isNull).count() == 3,
      "NULL-predicate rows must survive the rewrite")
  }

  test("merge-on-read: delta lifecycle, guards, and log retirement") {
    import spark.implicits._
    val dir = scratchDir("mor_life") + "/dest"
    val sp = mkSpec("", dir, dstIds = Seq(IdField("id", LongId)))
    val d = new ParquetDestinationDriver
    // a delta against nothing must refuse
    assertThrows[IllegalStateException](
      d.appendDelta(Seq((1L, "a")).toDF("id", "v"), sp))
    d.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), sp)
    // schema may not evolve through the delta log
    assertThrows[IllegalArgumentException](
      d.appendDelta(Seq((1L, "a", 9L)).toDF("id", "v", "extra"), sp))
    // duplicate keys within one delta reconcile nondeterministically
    assertThrows[NonUniqueKeyException](
      d.appendDelta(Seq((1L, "x"), (1L, "y")).toDF("id", "v"), sp))
    assert(d.appendDelta(Seq((2L, "B"), (4L, "d")).toDF("id", "v"), sp) == 0L)
    assert(d.appendDelta(Seq((2L, "BB")).toDF("id", "v"), sp) == 1L)
    val mor = d.morSnapshot(spark, sp).get
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(mor == Map(1L -> "a", 2L -> "BB", 3L -> "c", 4L -> "d"),
      s"latest-wins reconcile broken: $mor")
    // base generation itself is untouched by the log
    assert(d.snapshotAt(spark, sp, 0L).get.count() == 3)
    val gen = d.compactDeltas(spark, sp)
    assert(gen == 1L)
    val compacted = d.snapshotAt(spark, sp, gen).get
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(compacted == mor, "compaction must materialize the reconciled view")
    // pointer flip retires the log: the new generation reads clean
    val after = d.morSnapshot(spark, sp).get
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == mor, "post-compaction morSnapshot must equal snapshot")
  }

  test("merge-on-read: a delta segment without its _SUCCESS marker is invisible and never reused") {
    import spark.implicits._
    val dir = scratchDir("mor_uncommitted") + "/dest"
    val sp = mkSpec("", dir, dstIds = Seq(IdField("id", LongId)))
    val d = new ParquetDestinationDriver
    d.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), sp)
    assert(d.appendDelta(Seq((2L, "B")).toDF("id", "v"), sp) == 0L)
    // an append killed mid-write leaves only the committer's _temporary
    new java.io.File(s"$dir/mordelta_gen0_1/_temporary/0").mkdirs()
    def state = d.morSnapshot(spark, sp).get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state == Map(1L -> "a", 2L -> "B"))
    assert(d.deltaSegments(spark, sp) == Seq(0L))
    assert(d.appendDelta(Seq((1L, "A")).toDF("id", "v"), sp) == 2L, "the next append takes an index past the debris")
    assert(state == Map(1L -> "A", 2L -> "B"))
    assert(d.deltaSegments(spark, sp) == Seq(0L, 2L))
  }

  test("exclusive create: of racing creators on the local filesystem exactly one wins, with its content") {
    val dir = new org.apache.hadoop.fs.Path(scratchDir("excl_create"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try (0 until 40).foreach { round =>
      val p = new org.apache.hadoop.fs.Path(dir, s"_claim_$round")
      val start = new java.util.concurrent.CountDownLatch(1)
      val racers = (0 until 8).map(i => pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = { start.await(); ExclusiveCreate(fs, p, s"racer$i".getBytes("UTF-8")) }
      }))
      start.countDown()
      val won = racers.map(_.get).zipWithIndex.collect { case (true, i) => i }
      assert(won.size == 1, s"round $round: winners $won")
      val in = fs.open(p)
      try assert(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") == s"racer${won.head}")
      finally in.close()
    } finally pool.shutdown()
    assert(fs.listStatus(dir).forall(!_.getPath.getName.endsWith(".tmp")), "temporary files left behind")
  }

  test("generation pointer: a blank _CURRENT fails loudly instead of reading the table's base directory") {
    import spark.implicits._
    val dir = scratchDir("pq_blank_ptr") + "/dest"
    val sp = mkSpec("", dir)
    val d = new ParquetDestinationDriver
    d.write(Seq((1L, "a")).toDF("id", "v"), sp)
    // a publish cut between its truncate and its write
    val ptr = new org.apache.hadoop.fs.Path(s"$dir/_CURRENT")
    ptr.getFileSystem(spark.sparkContext.hadoopConfiguration).create(ptr, true).close()
    val e = intercept[BlankGenerationPointerException](d.snapshot(spark, sp))
    assert(e.getMessage.contains("_CURRENT"))
    intercept[BlankGenerationPointerException](d.currentGeneration(spark, sp))
  }

  test("generation pointer: a reader racing repeated publishes never sees a blank or partial pointer") {
    val base = scratchDir("ptr_race") + "/t"
    GenerationPointer.publish(spark, base, "gen0")
    @volatile var done = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => while (!done) seen.add(
      try GenerationPointer.read(spark, base).getOrElse("none")
      catch { case e: Exception => e.toString }))
    reader.start()
    try (1 to 300).foreach(i => GenerationPointer.publish(spark, base, s"gen$i"))
    finally { done = true; reader.join() }
    val bad = seen.toArray.map(_.toString).filterNot(_.matches("gen\\d+"))
    assert(bad.isEmpty, s"reads other than a full pointer: ${bad.distinct.take(3).toSeq}")
    assert(GenerationPointer.read(spark, base).contains("gen300"))
    assert(new java.io.File(base).list().toSeq == Seq("_CURRENT"), "temporary files left behind")
  }

  test("schema cache: a morSnapshot over more than 16 segments, read twice, runs no inference job") {
    import spark.implicits._
    val dir = scratchDir("mor_many_segments") + "/dest"
    val sp = mkSpec("", dir, dstIds = Seq(IdField("id", LongId)))
    val d = new ParquetDestinationDriver
    d.write(Seq((1L, "a")).toDF("id", "v"), sp)
    (0 until 20).foreach(i => d.appendDelta(Seq((i.toLong, s"d$i")).toDF("id", "v"), sp))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      (1 to 2).foreach { _ =>
        d.morSnapshot(spark, sp).get.schema // builds the plan: reads every segment, runs no action
      }
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      assert(jobs.get == 0, s"${jobs.get} inference jobs for directories the engine wrote")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(d.morSnapshot(spark, sp).get.count() == 20)
  }

  test("schema cache: generations and delta segments record what Spark infers; a rewrite is re-read") {
    import spark.implicits._
    val dir = scratchDir("pq_schema_cache") + "/dest"
    val sp = mkSpec("", dir, dstIds = Seq(IdField("id", LongId)))
    val d = new ParquetDestinationDriver
    // non-nullable primitives, nested and container types, a timestamp
    val df = Seq((1L, 2.5, "a", Seq(1, 2), Map("k" -> 1L), (3, "x"), java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "score", "v", "xs", "m", "s", "ts")
    d.write(df, sp)
    d.appendDelta(df.withColumn("v", lit("b")), sp)
    d.appendTombstones(Seq(1L).toDF("id"), sp)
    Seq("gen0", "mordelta_gen0_0", "mordelta_gen0_1").foreach { g =>
      val recorded = ParquetDirs.recorded(spark, s"$dir/$g")
      assert(recorded.contains(spark.read.parquet(s"$dir/$g").schema), s"$g: recorded $recorded")
    }
    // rewritten in place behind the engine's back: the old entry is stale
    Thread.sleep(5)
    Seq(("z", 1)).toDF("other", "cols").write.mode("overwrite").parquet(s"$dir/gen0")
    assert(ParquetDirs.recorded(spark, s"$dir/gen0").isEmpty)
    assert(d.currentSchema(spark, sp).get.fieldNames.toSeq == Seq("other", "cols"))
  }

  test("rollback: pointer flips back, branch writes to max(gen)+1, abandoned gen readable") {
    import spark.implicits._
    val dir = scratchDir("pq_rollback")
    val s = mkSpec("n/a", s"$dir/out")
    val d = new ParquetDestinationDriver
    d.write(Seq((1L, "a")).toDF("id", "v"), s)               // gen0
    d.write(Seq((1L, "b"), (2L, "b")).toDF("id", "v"), s)    // gen1
    // refuse a non-retained target — fail loudly, flip nothing
    assertThrows[IllegalArgumentException](d.rollback(spark, s, 7L))
    assert(d.snapshot(spark, s).get.count() == 2)
    d.rollback(spark, s, 0L)
    assert(d.snapshot(spark, s).get.collect().map(_.getString(1)).toSeq == Seq("a"))
    // next write branches past the abandoned generation, never over it
    d.write(Seq((1L, "a"), (3L, "c")).toDF("id", "v"), s)    // gen2
    assert(d.generations(spark, s) == Seq(0L, 1L, 2L))
    assert(d.snapshot(spark, s).get.orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("a", "c"))
    // the rolled-away branch is still time-travelable until vacuum
    assert(d.snapshotAt(spark, s, 1).get.orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("b", "b"))
  }

  test("txn publish: manifest is the commit point; recovery rolls forward; strays fail loudly") {
    import spark.implicits._
    val dir = scratchDir("pq_txn")
    val (sa, sb) = (mkSpec("n/a", s"$dir/a"), mkSpec("n/a", s"$dir/b"))
    val d = new ParquetDestinationDriver
    d.write(Seq((1L, "old")).toDF("id", "v"), sa)
    d.write(Seq((1L, "old")).toDF("id", "v"), sb)
    val (ga, gb) = (d.stage(Seq((1L, "new")).toDF("id", "v"), sa),
      d.stage(Seq((1L, "new")).toDF("id", "v"), sb))
    // nothing durable yet: recover is a no-op, staged gens invisible
    assert(TxnPublish.recover(spark, s"$dir/txn", Seq((d, sa), (d, sb))) == 0)
    assert(d.snapshot(spark, sa).get.collect()(0).getString(1) == "old")
    // prepare then crash before ANY flip: recovery completes both
    TxnPublish.prepare(spark, Seq((d, sa, ga), (d, sb, gb)), s"$dir/txn")
    assert(TxnPublish.recover(spark, s"$dir/txn", Seq((d, sa), (d, sb))) == 1)
    assert(d.snapshot(spark, sa).get.collect()(0).getString(1) == "new")
    assert(d.snapshot(spark, sb).get.collect()(0).getString(1) == "new")
    // second recover: manifest retired, nothing to redo
    assert(TxnPublish.recover(spark, s"$dir/txn", Seq((d, sa), (d, sb))) == 0)
    // a manifest naming an unknown destination must fail loudly
    TxnPublish.prepare(spark, Seq((d, sb, gb)), s"$dir/txn")
    assertThrows[IllegalStateException](
      TxnPublish.recover(spark, s"$dir/txn", Seq((d, sa))))
  }

  test("txn recovery: zombie manifest never rolls back past later publishes; missing staged gen fails loudly") {
    import spark.implicits._
    val dir = scratchDir("pq_txn_guards")
    val sa = mkSpec("n/a", s"$dir/a")
    val d = new ParquetDestinationDriver
    d.write(Seq((1L, "v0")).toDF("id", "v"), sa) // gen0
    val g1 = d.stage(Seq((1L, "v1")).toDF("id", "v"), sa)
    // a manifest that OUTLIVES its completed transaction (failed delete /
    // crash after all flips): complete the txn, then forge the zombie by
    // re-preparing the identical manifest after later data has published
    TxnPublish.commit(spark, Seq((d, sa, g1)), s"$dir/txn")
    d.write(Seq((1L, "v2")).toDF("id", "v"), sa) // gen2, committed AFTER the txn
    TxnPublish.prepare(spark, Seq((d, sa, g1)), s"$dir/txn") // the zombie
    assert(TxnPublish.recover(spark, s"$dir/txn", Seq((d, sa))) == 1)
    // epoch guard: the pointer must still be at gen2, not rolled back to gen1
    assert(d.currentGeneration(spark, sa).contains(2L))
    assert(d.snapshot(spark, sa).get.collect()(0).getString(1) == "v2")
    // a manifest whose target generation was aborted/vacuumed: publishing
    // it would leave the pointer dangling — recovery must refuse
    TxnPublish.prepare(spark, Seq((d, sa, "gen9")), s"$dir/txn")
    val e = intercept[IllegalStateException](
      TxnPublish.recover(spark, s"$dir/txn", Seq((d, sa))))
    assert(e.getMessage.contains("missing"))
    assert(d.currentGeneration(spark, sa).contains(2L)) // pointer untouched
  }

  test("tags: vacuum-protected, movable, loud on typos; erasure purge overrides protection") {
    import spark.implicits._
    val dir = scratchDir("pq_tags")
    val s = mkSpec("n/a", s"$dir/out")
    val d = new ParquetDestinationDriver(keepGenerations = Some(1))
    d.write(Seq((1L, "v0")).toDF("id", "v"), s)        // gen0
    d.tag(spark, s, "rel", 0L)
    d.write(Seq((1L, "v1")).toDF("id", "v"), s)        // gen1; tagged gen0 survives keep=1
    assert(d.generations(spark, s) == Seq(0L, 1L))
    d.tag(spark, s, "rel", 1L)                          // re-tag MOVES the name
    assert(d.tags(spark, s) == Map("rel" -> 1L))
    d.write(Seq((1L, "v2")).toDF("id", "v"), s)        // gen2: gen0 lost protection, gen1 keeps it
    assert(d.generations(spark, s) == Seq(1L, 2L))
    assert(d.snapshotAtTag(spark, s, "rel").get.collect()(0).getString(1) == "v1")
    assertThrows[IllegalArgumentException](d.dropTag(spark, s, "nope"))
    // right-to-erasure: the purge reclaims even TAGGED generations — a
    // tag must not be able to retain erased rows
    d.erase(spark, s, col("v") === "v2")
    assert(d.generations(spark, s).size == 1)
    assert(d.snapshotAtTag(spark, s, "rel").isEmpty, "tagged gen must be gone after purge")
  }

  test("branches: isolated commits, vacuum-protected heads and bases, duplicate/missing guards") {
    import spark.implicits._
    val dir = scratchDir("pq_branches")
    val s = mkSpec("n/a", s"$dir/out")
    val d = new ParquetDestinationDriver(keepGenerations = Some(1))
    d.write(Seq((1L, "m0")).toDF("id", "v"), s)          // gen0
    d.createBranch(spark, s, "b", 0L)
    assertThrows[IllegalArgumentException](d.createBranch(spark, s, "b", 0L)) // duplicate
    assertThrows[IllegalArgumentException](d.createBranch(spark, s, "c", 9L)) // unretained
    d.writeToBranch(Seq((1L, "b1")).toDF("id", "v"), s, "b") // gen1 (branch head)
    // a main write under keep=1 must spare the branch's head AND base
    d.write(Seq((1L, "m2")).toDF("id", "v"), s)          // gen2
    assert(d.generations(spark, s) == Seq(0L, 1L, 2L),
      "branch head/base must be vacuum-immortal")
    // main moved past the fork base: fast-forward must refuse
    assertThrows[graft.spec.ConcurrentPublishException](d.fastForward(spark, s, "b"))
    assert(d.currentGeneration(spark, s).contains(2L))
    // branch still readable; dropping it releases protection
    assert(d.snapshotAtBranch(spark, s, "b").get.collect()(0).getString(1) == "b1")
    d.dropBranch(spark, s, "b")
    assertThrows[IllegalArgumentException](d.dropBranch(spark, s, "b"))
    d.write(Seq((1L, "m3")).toDF("id", "v"), s)          // gen3: 0/1 now reclaimable
    assert(d.generations(spark, s) == Seq(3L))
  }

  test("optimistic publish: concurrent writers cannot lose updates — loser aborts, re-merges, retries") {
    import spark.implicits._
    val dir = scratchDir("pq_cas")
    val s = mkSpec("n/a", s"$dir/out")
    new ParquetDestinationDriver().write(
      Seq((1L, "base"), (2L, "base"), (3L, "base")).toDF("id", "v"), s) // gen0
    val dA = new ParquetDestinationDriver(optimistic = true)
    val dB = new ParquetDestinationDriver(optimistic = true)
    // both writers read (and thereby observe) the SAME base generation
    val snapA = dA.snapshot(spark, s).get
    val snapB = dB.snapshot(spark, s).get
    // A merges {2 -> a} against gen0 and wins the pointer
    dA.write(snapA.withColumn("v", when(col("id") === 2, "a").otherwise(col("v"))), s)
    assert(dA.currentGeneration(spark, s).contains(1L))
    // B merges {3 -> b} against the SAME gen0 — a blind publish here
    // would silently drop A's update; CAS must abort it instead
    val mergedB = snapB.withColumn("v", when(col("id") === 3, "b").otherwise(col("v")))
    assertThrows[ConcurrentPublishException](dB.write(mergedB, s))
    // the loser's candidate is gone (no burned half-published directory)
    assert(dB.generations(spark, s) == Seq(0L, 1L))
    assert(dB.currentGeneration(spark, s).contains(1L))
    // retry protocol: re-read (now A's gen1), re-merge, publish
    val retryB = dB.snapshot(spark, s).get
      .withColumn("v", when(col("id") === 3, "b").otherwise(col("v")))
    dB.write(retryB, s)
    assert(dB.snapshot(spark, s).get.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("base", "a", "b")) // BOTH updates survive
    // true thread race over a fresh table: N writers, disjoint single-row
    // upserts, retry-on-conflict — every row must land exactly once
    val s2 = mkSpec("n/a", s"$dir/race")
    new ParquetDestinationDriver().write(Seq((0L, "seed")).toDF("id", "v"), s2)
    val threadErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try {
          val d = new ParquetDestinationDriver(optimistic = true)
          var done = false
          while (!done) {
            try {
              val snap = d.snapshot(spark, s2).get
              d.write(snap.unionByName(Seq((i.toLong, s"w$i")).toDF("id", "v")), s2)
              done = true
            } catch { case _: ConcurrentPublishException => () } // re-observe + retry
          }
        } catch { case t: Throwable => threadErrors.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(threadErrors.isEmpty,
      s"writer thread died: ${Option(threadErrors.peek()).map(_.toString)}")
    val fin = new ParquetDestinationDriver().snapshot(spark, s2).get
      .orderBy("id").collect()
    assert(fin.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 4L),
      "every concurrent upsert must survive — no lost updates")
  }

  test("shallow clone: zero-copy gen0, independent divergence, source untouched") {
    import spark.implicits._
    val root = scratchDir("clone")
    def spec(name: String) = mkSpec("n/a", s"$root/$name",
      Seq(IdField("id", LongId)), Seq(IdField("id", LongId)))
    val (src, cln) = (spec("src"), spec("cln"))
    val d = new ParquetDestinationDriver()
    d.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), src)
    assert(d.shallowClone(spark, src, cln),
      "local filesystem must hardlink, not copy")
    // zero-copy proof: every clone data file shares its inode (link
    // count 2) with the source generation's file
    val cloneDir = java.nio.file.Paths.get(s"$root/cln", "gen0")
    val parts = java.nio.file.Files.list(cloneDir).iterator()
    var sawParquet = false
    parts.forEachRemaining { p =>
      if (p.getFileName.toString.endsWith(".parquet")) {
        sawParquet = true
        val links = java.nio.file.Files.getAttribute(p, "unix:nlink")
          .asInstanceOf[Number].intValue()
        assert(links >= 2, s"$p must be a hardlink into the source gen")
      }
    }
    assert(sawParquet, "clone gen0 must contain parquet data files")
    // provenance marker names the source generation
    val prov = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/cln", "_cloned_from")), "UTF-8")
    assert(prov.endsWith("/src/gen0"), s"provenance: $prov")
    // clone diverges in its own base; source stays byte-identical
    d.write(d.snapshot(spark, cln).get
      .withColumn("v", concat(col("v"), lit("!"))), cln)
    assert(d.snapshot(spark, cln).get.orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("a!", "b!", "c!"))
    assert(d.snapshot(spark, src).get.orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("a", "b", "c"))
    assert(d.generations(spark, src) == Seq(0L), "source log untouched")
    assert(d.generations(spark, cln) == Seq(0L, 1L))
    // a second clone onto a published base must refuse
    assertThrows[IllegalArgumentException](d.shallowClone(spark, src, cln))
  }

  test("optimistic publish: TWO JAVA PROCESSES contend on one destination — serialized union, loser retried") {
    // etl_concurrent_writers races two threads in ONE JVM, where the
    // per-base JVM lock alone could mask a broken cross-process
    // protocol. Here two real JVMs (graft.tools.CasWriterProbe) upsert
    // the same seeded destination; a _snap_* file handshake inside each
    // writer's snapshot() pins the interleave — both observe gen0
    // before either writes — so the filesystem CAS markers are the ONLY
    // thing standing between this test and a lost update.
    val base = scratchDir("cas_xjvm")
    val theSpec = MigrationSpec("cas_upsert", source = "", sourceDriver = "inline",
      destination = s"$base/dest", destinationDriver = "parquet",
      sourceIds = Seq(IdField("c_custkey", LongId)),
      destinationIds = Seq(IdField("id", LongId)))
    val cust = spark.read.parquet(s"$Sf/customer.parquet")
    val d = new ParquetDestinationDriver
    d.write(cust.filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        lit("base").as("marker")), theSpec)

    // launch the two writers with this JVM's own java + add-opens set
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("--add-opens"))
      .toSeq match {
        case Nil => // sbt may pass them as --add-opens=<mod>; fall back to the known set
          Seq("java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
            "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
            "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
            "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
            "java.base/sun.util.calendar").flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
        case opens => opens
      }
    val cp = "/opt/spark/jars/*:target/scala-2.13/classes"
    def launch(marker: String, mod: Int): (Process, java.io.File, java.io.File) = {
      val out = java.io.File.createTempFile(s"cas_$marker", ".out")
      val err = java.io.File.createTempFile(s"cas_$marker", ".err")
      val pb = new ProcessBuilder(
        (Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp", cp,
          "graft.tools.CasWriterProbe", base, Sf, marker, mod.toString)): _*)
      pb.redirectOutput(out)
      pb.redirectError(err)
      (pb.start(), out, err)
    }
    val (pa, oa, ea) = launch("a", 2)
    val (pb2, ob, eb) = launch("b", 3)
    assert(pa.waitFor(180, java.util.concurrent.TimeUnit.SECONDS) &&
      pb2.waitFor(180, java.util.concurrent.TimeUnit.SECONDS), {
        pa.destroyForcibly(); pb2.destroyForcibly()
        "writer processes must finish within 180s"
      })
    def errTail(f: java.io.File): String = {
      val lines = scala.io.Source.fromFile(f).getLines().toSeq
      lines.drop(math.max(0, lines.size - 30)).mkString("\n")
    }
    assert(pa.exitValue() == 0 && pb2.exitValue() == 0,
      s"writers must exit 0: a=${pa.exitValue()} b=${pb2.exitValue()}\n" +
        s"--- a stderr tail ---\n${errTail(ea)}\n--- b stderr tail ---\n${errTail(eb)}")
    def parse(f: java.io.File): (String, Int, Long) = {
      val line = scala.io.Source.fromFile(f).getLines()
        .find(_.startsWith("""{"marker"""")).getOrElse(fail(s"no JSON line in $f"))
      val m = """\{"marker":"(\w)","conflicts":(\d+),"final_gen":(\d+)\}""".r
        .findFirstMatchIn(line).getOrElse(fail(s"unparseable: $line"))
      (m.group(1), m.group(2).toInt, m.group(3).toLong)
    }
    val results = Seq(parse(oa), parse(ob))
    // exactly one writer wins the pinned first round; the loser retries
    // until published and may concede MORE than once (its re-read can
    // land between the winner's CAS-marker create and pointer flip,
    // where it rolls the winner forward and concedes again — the probe
    // documents the window)
    assert(results.map(_._2).min == 0 && results.map(_._2).max >= 1,
      s"one clean winner and one retried loser expected: $results")

    // the generation log: seed + winner + loser's retry, pointer at max;
    // the _cas_from_gen0 audit marker names the WINNER's generation
    val gens = d.generations(spark, theSpec)
    assert(gens.size == 3 && gens.head == 0L &&
      d.currentGeneration(spark, theSpec).contains(gens.max),
      s"generation log must be seed + 2 serialized publishes: $gens")
    val fs = new org.apache.hadoop.fs.Path(s"$base/dest")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$base/dest", "_cas_from_gen0"))
    val winnerGen = (try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
      finally in.close()).stripPrefix("gen").toLong
    val loserMarker = results.find(_._2 >= 1).get._1
    val winnerMarker = results.find(_._2 == 0).get._1
    assert(results.find(_._1 == winnerMarker).get._3 >= winnerGen,
      "winner must have published the gen its CAS marker records")

    // final state = the SERIALIZED union: loser's transform applied on
    // top of the winner's published state — byte-exact expectation
    def shaped(marker: String, c: org.apache.spark.sql.Column) =
      if (marker == "a") upper(c) else lower(c)
    def modOf(marker: String) = if (marker == "a") 2 else 3
    val expected = cust.filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey").as("id"),
        when(col("c_custkey") % modOf(loserMarker) === 0,
            shaped(loserMarker, col("c_name")))
          .when(col("c_custkey") % modOf(winnerMarker) === 0,
            shaped(winnerMarker, col("c_name")))
          .otherwise(col("c_name")).as("name"),
        when(col("c_custkey") % modOf(loserMarker) === 0, lit(loserMarker))
          .when(col("c_custkey") % modOf(winnerMarker) === 0, lit(winnerMarker))
          .otherwise(lit("base")).as("marker"))
    val got = d.snapshot(spark, theSpec).get.select("id", "name", "marker")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      s"final state must be the serialized union (loser=$loserMarker last)")
  }
}
