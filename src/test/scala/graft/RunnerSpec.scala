package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.run.CheckpointRunner
import graft.sources.CodeFiles

class RunnerSpec extends SparkSuite {
  import spark.implicits._

  test("code_files generator is deterministic and partitioning-invariant") {
    val a = CodeFiles.generate(spark, 1000).orderBy("id").collect()
    val b = CodeFiles.generate(spark, 1000).repartition(7).orderBy("id").collect()
    assert(a.toSeq === b.toSeq)
    // planted defects exist
    val df = CodeFiles.generate(spark, 2000)
    assert(df.filter(length(col("commit")) =!= 40).count() > 0)
    assert(df.filter(col("lang") === "klingon").count() > 0)
    assert(df.filter(col("content").isNull).count() > 0)
    assert(df.filter(col("repo") === CodeFiles.HotRepo).count() > 2000 / 10)
    // duplicates on the composite key
    val dups = graft.quality.Uniqueness.duplicates(df, Seq("repo", "path", "commit"))
    assert(dups.count() > 0)
  }

  test("code_files checklist flags exactly the planted defect classes") {
    val df = CodeFiles.generate(spark, 2000)
    val v = graft.engine.Validator.validate(df, CodeFiles.checklist,
      graft.engine.Validator.Options(rowIdCol = Some("id")))
    val byRule = graft.engine.Validator.violationRows(v)
      .groupBy("rule_id", "field").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byRule.contains(("field_invalid", "commit")))
    assert(byRule.contains(("field_invalid", "lang"))) // klingon
    assert(byRule.contains(("required", "content")))
    // unknown lang rows are NOT violations (tri-state)
    val unknownLang = df.filter(col("lang") === "not available").count()
    assert(unknownLang > 0)
    val langViol = byRule(("field_invalid", "lang"))
    assert(langViol === df.filter(col("lang") === "klingon").count())
  }

  test("checkpoint runner: resume skips completed partitions; checklist change invalidates") {
    val base = Files.createTempDirectory("graft_ckpt").toString
    val input = s"$base/input"
    CodeFiles.generate(spark, 500)
      .withColumn("part", (col("id") % 3).cast("string"))
      .write.partitionBy("part").parquet(input)
    val cfg = CheckpointRunner.Config(
      inputPath = input, partitionCol = "part",
      outputPath = s"$base/out", violationsPath = s"$base/viol",
      manifestPath = s"$base/manifest", rowIdCol = Some("id"))

    val r1 = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(r1.size === 3 && r1.forall(!_.skipped))
    assert(r1.map(_.nRows).sum === 500)

    // second run: everything skipped
    val r2 = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(r2.forall(_.skipped))

    // simulate a mid-run kill: remove one partition's manifest rows
    val manifest = spark.read.parquet(cfg.manifestPath)
    val pruned = manifest.filter(col("partition") =!= "1")
    val tmp = s"$base/manifest2"
    pruned.write.parquet(tmp)
    val cfg2 = cfg.copy(manifestPath = tmp)
    val r3 = CheckpointRunner.run(spark, CodeFiles.checklist, cfg2)
    assert(r3.count(_.skipped) === 2 && r3.count(!_.skipped) === 1)

    // idempotence: no duplicated violation rows after the re-run
    val viol = spark.read.parquet(cfg.violationsPath)
    assert(viol.count() === viol.distinct().count())

    // changed checklist -> all partitions re-run
    val changed = CodeFiles.checklist.copy(fields =
      CodeFiles.checklist.fields.map(f =>
        if (f.name == "lang") f.copy(required = true) else f))
    val r4 = CheckpointRunner.run(spark, changed, cfg)
    assert(r4.forall(!_.skipped))
  }

  test("checkpoint runner: an unreadable manifest fails the run, naming its path") {
    val base = Files.createTempDirectory("graft_ckpt_bad").toString
    val input = s"$base/input"
    CodeFiles.generate(spark, 50)
      .withColumn("part", (col("id") % 2).cast("string"))
      .write.partitionBy("part").parquet(input)
    val manifest = s"$base/manifest"
    Files.createDirectories(java.nio.file.Paths.get(manifest))
    Files.write(java.nio.file.Paths.get(manifest, "notes.txt"),
      "not parquet".getBytes("UTF-8"))
    val cfg = CheckpointRunner.Config(
      inputPath = input, partitionCol = "part",
      outputPath = s"$base/out", violationsPath = s"$base/viol",
      manifestPath = manifest, rowIdCol = Some("id"))
    val err = intercept[Exception] {
      CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    }
    assert(err.getMessage.contains(manifest), err.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/out")),
      "no partition may be re-validated over an unreadable manifest")
  }

  private def hiveInput(base: String, rows: Long, parts: Int): String = {
    val input = s"$base/input"
    CodeFiles.generate(spark, rows)
      .withColumn("part", (col("id") % parts).cast("string"))
      .write.partitionBy("part").parquet(input)
    input
  }

  private def ckptConfig(input: String, base: String) = CheckpointRunner.Config(
    inputPath = input, partitionCol = "part",
    outputPath = s"$base/out", violationsPath = s"$base/viol",
    manifestPath = s"$base/manifest", rowIdCol = Some("id"),
    contentCol = Some("content"))

  test("checkpoint run: one ok row per partition with its input " +
      "count, no _temporary left, verdicts equal one whole-input validate") {
    val base = Files.createTempDirectory("graft_ckpt_conc").toString
    val input = hiveInput(base, 1200, 12)
    val cfg = ckptConfig(input, base)
    val res = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(res.map(_.partition) === res.map(_.partition).sorted)
    assert(res.size === 12 && res.forall(!_.skipped))

    val want = spark.read.parquet(input).groupBy("part").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val rows = spark.read.parquet(cfg.manifestPath).collect()
    assert(rows.length === 12 && rows.forall(_.getAs[String]("status") == "ok"))
    assert(rows.map(r => r.getAs[String]("partition") -> r.getAs[Long]("n_rows"))
      .toMap === want)
    assert(res.map(r => r.partition -> r.nRows).toMap === want)
    // the partitions really ran side by side: some two of them were in
    // flight at the same time
    def at(r: org.apache.spark.sql.Row, c: String) =
      java.time.Instant.parse(r.getAs[String](c))
    val spans = rows.map(r => (at(r, "started_at"), at(r, "finished_at")))
    assert(spans.combinations(2).exists { case Array((s1, f1), (s2, f2)) =>
      s1.isBefore(f2) && s2.isBefore(f1) }, "no two partitions overlapped")

    for (dir <- Seq(cfg.outputPath, cfg.violationsPath, cfg.manifestPath)) {
      val leftovers = Files.walk(java.nio.file.Paths.get(dir)).toArray
        .map(_.toString).filter(_.contains("_temporary"))
      assert(leftovers.isEmpty, leftovers.mkString(", "))
    }

    import graft.engine.Validator
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.select("id", Validator.PassedCol, Validator.ErrorCol).collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    val whole = Validator.validate(spark.read.parquet(input),
      CodeFiles.checklist, Validator.Options(Some("id"), Some("content")))
    assert(verdicts(spark.read.parquet(cfg.outputPath)) === verdicts(whole))
  }

  test("checkpoint run: a failed partition is named, the others " +
      "commit, and a re-run validates only the failed one") {
    val base = Files.createTempDirectory("graft_ckpt_fail").toString
    val input = hiveInput(base, 300, 6)
    val cfg = ckptConfig(input, base)
    // the last partition to start: every other one has started before it
    // fails. A dangling link where its output directory goes makes the
    // write's mkdirs fail (an overwrite would just delete a regular file)
    val obstacle = java.nio.file.Paths.get(s"${cfg.outputPath}/part=5")
    Files.createDirectories(obstacle.getParent)
    Files.createSymbolicLink(obstacle, java.nio.file.Paths.get(s"$base/missing"))
    val err = intercept[Exception] {
      CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    }
    assert(err.getMessage.contains("partition part=5"), err.getMessage)
    val ok = spark.read.parquet(cfg.manifestPath)
      .filter(col("status") === "ok").select("partition").collect()
      .map(_.getString(0)).toSet
    assert(ok === Set("0", "1", "2", "3", "4"))

    Files.delete(obstacle)
    val again = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(again.filterNot(_.skipped).map(_.partition) === Seq("5"))
    assert(again.find(_.partition == "5").get.nRows === 50)
  }

  test("checkpoint run: at most 4 Spark jobs per partition on a fresh " +
      "snapshot-table run") {
    val base = Files.createTempDirectory("graft_ckpt_jobs").toString
    val root = s"$base/table"
    graft.sources.SnapshotTable.commit(
      CodeFiles.generate(spark, 600)
        .withColumn("part", (col("id") % 6).cast("string")),
      root, Seq("part"))
    val cfg = ckptConfig(root, base)
    val (res, jobs) = jobsIn("ckpt_job_count") {
      CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    }
    assert(res.size === 6 && res.forall(!_.skipped))
    assert(jobs > 0 && jobs <= 4 * 6, s"$jobs jobs for 6 partitions")
  }

  test("CheckpointMain: spark-submit arg surface drives a resumable run end-to-end") {
    import graft.run.CheckpointMain
    val base = Files.createTempDirectory("graft_ckpt_cli").toString
    CodeFiles.generate(spark, 200)
      .withColumn("part", (col("id") % 2).cast("string"))
      .write.partitionBy("part").parquet(s"$base/input")
    val argv = List(
      "--input", s"$base/input", "--partition-col", "part",
      "--output", s"$base/out", "--violations", s"$base/viol",
      "--manifest", s"$base/manifest",
      "--builtin", "code_files", "--row-id", "id")
    val args = CheckpointMain.parseArgs(argv, CheckpointMain.Args())
    val r1 = CheckpointMain.run(spark, args)
    assert(r1.size === 2 && r1.forall(!_.skipped) && r1.map(_.nRows).sum === 200)
    // same command again: resumes (all partitions skipped)
    assert(CheckpointMain.run(spark, args).forall(_.skipped))
    // bad args fail fast with a named flag
    intercept[IllegalArgumentException] {
      CheckpointMain.parseArgs(List("--bogus", "x"), CheckpointMain.Args())
    }
    intercept[IllegalArgumentException] {
      CheckpointMain.run(spark, args.copy(builtin = Some("nope"), config = None))
    }
  }

  test("checkpoint runner over a snapshot-manifest table: metadata planning + resume") {
    val base = Files.createTempDirectory("graft_snap_ckpt").toString
    val root = s"$base/table"
    graft.sources.SnapshotTable.commit(
      CodeFiles.generate(spark, 300)
        .withColumn("part", (col("id") % 2).cast("string")),
      root, Seq("part"))
    val cfg = CheckpointRunner.Config(
      inputPath = root, partitionCol = "part",
      outputPath = s"$base/out", violationsPath = s"$base/viol",
      manifestPath = s"$base/manifest", rowIdCol = Some("id"))
    val r1 = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(r1.size === 2 && r1.forall(!_.skipped))
    assert(r1.map(_.nRows).sum === 300)
    // resume: all partitions already committed for this checklist
    val r2 = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(r2.forall(_.skipped))
    // a new table snapshot does NOT invalidate lineage by itself (the
    // checklist fingerprint does); partitions stay skipped
    graft.sources.SnapshotTable.commit(
      CodeFiles.generate(spark, 10)
        .withColumn("part", lit("0")).filter(col("id") < 5),
      root, Seq("part"))
    val r3 = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(r3.forall(_.skipped))
  }

  test("partition discovery is metadata-only on hive layouts (no data scan)") {
    val base = Files.createTempDirectory("graft_disc").toString
    val input = s"$base/input"
    CodeFiles.generate(spark, 100)
      .withColumn("part", concat(lit("p"), col("id") % 2))
      .write.partitionBy("part").parquet(input)
    // a data-free partition directory: a distinct() scan can NEVER return
    // it, so its ok row proves the listing path was used
    Files.createDirectory(java.nio.file.Paths.get(s"$input/part=empty"))
    val res = CheckpointRunner.run(spark, CodeFiles.checklist, ckptConfig(input, base))
    assert(res.map(_.partition) === Seq("empty", "p0", "p1"))
    assert(res.map(_.nRows).sum === 100L)
    val empty = spark.read.parquet(s"$base/manifest")
      .filter(col("partition") === "empty").collect()
    assert(empty.map(r => (r.getAs[String]("status"), r.getAs[Long]("n_rows")))
      .toSeq === Seq(("ok", 0L)))
    // non-hive layout: the distinct() fallback still validates every row
    val flatBase = Files.createTempDirectory("graft_disc_flat").toString
    val flat = s"$flatBase/flat"
    CodeFiles.generate(spark, 50)
      .withColumn("part", concat(lit("p"), col("id") % 3))
      .write.parquet(flat)
    val flatRes = CheckpointRunner.run(spark, CodeFiles.checklist,
      ckptConfig(flat, flatBase))
    assert(flatRes.map(_.partition) === Seq("p0", "p1", "p2"))
    assert(flatRes.map(_.nRows).sum === 50L)
  }

  test("checkpoint run over a snapshot table validates the version it " +
      "planned from, even when a commit lands mid-run") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.sources.SnapshotTable
    val base = Files.createTempDirectory("graft_ckpt_pin").toString
    val root = s"$base/table"
    val v1 = CodeFiles.generate(spark, 1200)
      .withColumn("part", (col("id") % 12).cast("string"))
    SnapshotTable.commit(v1, root, Seq("part"))
    // v2 overwrites every partition with ids >= 1,000,000
    SnapshotTable.commit(v1.withColumn("id", col("id") + 1000000L), root,
      Seq("part"))
    val hint = java.nio.file.Paths.get(s"$root/metadata/version-hint.text")
    // the local file system checks a hand-written file against its .crc
    Files.deleteIfExists(java.nio.file.Paths.get(s"$root/metadata/.version-hint.text.crc"))
    Files.write(hint, "1".getBytes("UTF-8"))
    // a concurrent commit: the hint flips to v2 once the run's first job
    // starts, while most partitions have not started yet
    val group = "ckpt_pinned_version"
    val flipped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group) &&
            flipped.compareAndSet(false, true))
          Files.write(hint, "2".getBytes("UTF-8"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val cfg = ckptConfig(root, base)
    val res = try {
      sc.setJobGroup(group, "pinned checkpoint run")
      CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(flipped.get && SnapshotTable.currentVersion(spark, root) === Some(2))
    assert(res.size === 12 && res.forall(r => !r.skipped && r.nRows === 100))
    val ids = spark.read.parquet(cfg.outputPath).select("id").as[Long].collect()
    assert(ids.length === 1200 && ids.forall(_ < 1000000L),
      s"${ids.count(_ >= 1000000L)} validated rows came from v2")
    val okRows = spark.read.parquet(cfg.manifestPath)
      .filter(col("status") === "ok").select("n_rows").as[Long].collect()
    assert(okRows.toSeq === Seq.fill(12)(100L))
  }

  test("hive-layout partition values round-trip through Spark's path codec: " +
      "'+' is not a space, '/' does not nest directories") {
    val base = Files.createTempDirectory("graft_ckpt_esc").toString
    val input = s"$base/input"
    CodeFiles.generate(spark, 90).drop("lang")
      .withColumn("lang", when(col("id") % 6 === 0, "a/b")
        .when(col("id") % 6 < 3, "x y").otherwise("c++"))
      .write.partitionBy("lang").parquet(input)
    val cfg = ckptConfig(input, base).copy(partitionCol = "lang")
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = counts(spark.read.parquet(input))
    assert(want === Map("a/b" -> 15L, "x y" -> 30L, "c++" -> 45L))

    val res = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(res.map(_.partition) === Seq("a/b", "c++", "x y"))
    val ok = spark.read.parquet(cfg.manifestPath)
      .filter(col("status") === "ok").collect()
      .map(r => r.getAs[String]("partition") -> r.getAs[Long]("n_rows")).toMap
    assert(ok === want)
    assert(counts(spark.read.parquet(cfg.outputPath)) === want)
    assert(counts(spark.read.parquet(cfg.violationsPath)).keySet
      .subsetOf(want.keySet))
  }

  /** Runs `body` in job group `group` and counts the Spark jobs it
   * starts; a sentinel job in another group marks the end of the run's
   * job-start events. */
  private def jobsIn[T](group: String)(body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sentinel = s"${group}_end"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val res = body
      sc.setJobGroup(sentinel, "end of run")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (res, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("checkpoint run: a fresh snapshot-table run makes as many Spark jobs " +
      "for 12 partitions as for 6, at most 8") {
    val jobs = Seq(6, 12).map { parts =>
      val base = Files.createTempDirectory(s"graft_ckpt_wave$parts").toString
      val root = s"$base/table"
      graft.sources.SnapshotTable.commit(
        CodeFiles.generate(spark, 1200)
          .withColumn("part", (col("id") % parts).cast("string")),
        root, Seq("part"))
      val (res, n) = jobsIn(s"ckpt_wave_jobs_$parts") {
        CheckpointRunner.run(spark, CodeFiles.checklist, ckptConfig(root, base))
      }
      assert(res.size === parts &&
        res.forall(r => !r.skipped && r.nRows === 1200 / parts))
      n
    }
    assert(jobs(0) === jobs(1) && jobs(0) <= 8,
      s"${jobs(0)} jobs for 6 partitions, ${jobs(1)} for 12")
  }

  test("checkpoint run: a corrupt input file fails only its partition, and " +
      "a re-run validates only that one") {
    val base = Files.createTempDirectory("graft_ckpt_corrupt").toString
    val input = hiveInput(base, 300, 6)
    val cfg = ckptConfig(input, base)
    // a copy of one of the partition's files with its data pages zeroed:
    // the footer still reads, so schema inference may pick it; its pages
    // do not
    val dir = java.nio.file.Paths.get(s"$input/part=5")
    val good = Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet")).head
    val bytes = Files.readAllBytes(good)
    val footer = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    java.util.Arrays.fill(bytes, 4, bytes.length - 8 - footer, 0.toByte)
    val corrupt = dir.resolve("corrupt.parquet")
    Files.write(corrupt, bytes)
    // the output and violation roots hold partition directories only
    def onlyPartitionDirs(): Unit =
      for (root <- Seq(cfg.outputPath, cfg.violationsPath)) {
        val names = Files.list(java.nio.file.Paths.get(root)).toArray
          .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        assert(names.forall(_.startsWith("part=")), names.mkString(", "))
      }

    val err = intercept[Exception] {
      CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    }
    assert(err.getMessage.contains("partition part=5"), err.getMessage)
    val ok = spark.read.parquet(cfg.manifestPath)
      .filter(col("status") === "ok").select("partition").collect()
      .map(_.getString(0)).toSet
    assert(ok === Set("0", "1", "2", "3", "4"))
    onlyPartitionDirs()

    Files.delete(corrupt)
    val again = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(again.filterNot(_.skipped).map(_.partition) === Seq("5"))
    assert(again.find(_.partition == "5").get.nRows === 50)
    onlyPartitionDirs()
  }

  test("checkpoint run: a null partition value is validated once, under " +
      "Spark's default partition name, in a hive layout, a snapshot table " +
      "and an unpartitioned input") {
    val base = Files.createTempDirectory("graft_ckpt_null").toString
    val df = CodeFiles.generate(spark, 60).withColumn("part",
      when(col("id") % 3 =!= 2, (col("id") % 3).cast("string")))
    df.write.partitionBy("part").parquet(s"$base/hive")
    graft.sources.SnapshotTable.commit(df, s"$base/table", Seq("part"))
    df.write.parquet(s"$base/flat")
    val nullPart = "__HIVE_DEFAULT_PARTITION__"
    for (layout <- Seq("hive", "table", "flat")) {
      val cfg = ckptConfig(s"$base/$layout", s"$base/$layout-run")
      val res = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
      assert(res.map(_.partition) === Seq("0", "1", nullPart), layout)
      val ids = spark.read.parquet(cfg.outputPath).select("id").as[Long]
        .collect().sorted
      assert(ids.toSeq === (0L until 60L), layout)
      val manifest = spark.read.parquet(cfg.manifestPath).collect()
        .map(r => r.getAs[String]("partition") -> r.getAs[Long]("n_rows")).toMap
      assert(manifest === Map("0" -> 20L, "1" -> 20L, nullPart -> 20L), layout)
      assert(Files.isDirectory(
        java.nio.file.Paths.get(s"${cfg.outputPath}/part=$nullPart")), layout)
      assert(CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
        .forall(_.skipped), layout)
    }
  }

  test("CheckpointMain: an input without a row_id column and no --row-id " +
      "fails before any write, naming --row-id; with --row-id every row " +
      "keeps its own id across waves") {
    import graft.engine.Validator
    import graft.run.CheckpointMain
    val base = Files.createTempDirectory("graft_ckpt_rowid").toString
    // 40 partitions: two waves (32 + 8)
    CodeFiles.generate(spark, 400)
      .withColumn("part", (col("id") % 40).cast("string"))
      .write.partitionBy("part").parquet(s"$base/input")
    val args = CheckpointMain.parseArgs(List(
      "--input", s"$base/input", "--partition-col", "part",
      "--output", s"$base/out", "--violations", s"$base/viol",
      "--manifest", s"$base/manifest", "--builtin", "code_files"),
      CheckpointMain.Args())
    val err = intercept[IllegalArgumentException](CheckpointMain.run(spark, args))
    assert(err.getMessage.contains("--row-id") && err.getMessage.contains("row_id"),
      err.getMessage)
    for (dir <- Seq("out", "viol", "manifest"))
      assert(!Files.exists(java.nio.file.Paths.get(s"$base/$dir")), dir)

    val res = CheckpointMain.run(spark, args.copy(rowId = Some("id")))
    assert(res.size === 40 && res.map(_.nRows).sum === 400)
    val out = spark.read.parquet(s"$base/out")
      .select(Validator.RowId, "id", Validator.ErrorCol).collect()
    assert(out.map(_.getLong(0)).distinct.length === 400)
    assert(out.forall(r => r.getLong(0) == r.getLong(1)))
    val errors = out.filter(!_.isNullAt(2))
    assert(errors.nonEmpty && errors.forall(r =>
      r.getString(2).startsWith(s"[errors found on row ${r.getLong(0)}] ")))
  }

  test("checkpoint run: a hive input keeps its partition values as the " +
      "directory names: \"007\" stays a string next to an empty `empty`") {
    val base = Files.createTempDirectory("graft_ckpt_hive_typing").toString
    val input = s"$base/input"
    CodeFiles.generate(spark, 100)
      .withColumn("part", when(col("id") % 2 === 0, "0").otherwise("007"))
      .write.partitionBy("part").parquet(input)
    Files.createDirectory(java.nio.file.Paths.get(s"$input/part=empty"))
    val cfg = ckptConfig(input, base)
    val res = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(res.map(r => r.partition -> r.nRows) ===
      Seq("0" -> 50L, "007" -> 50L, "empty" -> 0L))
    assert(res.forall(!_.skipped))
    val parts = spark.read.parquet(s"${cfg.outputPath}/part=007")
      .select("part").distinct().collect().map(_.get(0))
    assert(parts.toSeq === Seq("007"))
  }

  test("curation metrics run unchanged on a stream (stateless projection)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val metrics = graft.ops.Curation.repetitionMetrics(
      in.toDS().toDF("doc_id", "text"), "doc_id", "text")
    val q = metrics.writeStream.format("memory").queryName("scm")
      .outputMode("append").start()
    try {
      in.addData((1L, "a b a b a c"), (2L, "x y\nx y\nz"))
      q.processAllAvailable()
      val got = spark.sql("select doc_id, top_bigram_frac, dup_line_frac from scm")
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      // identical values to the batch spec (OpsSpec repetitionMetrics)
      assert(got === Map(1L -> ((0.4, 0.0)), 2L -> ((0.5, 0.333333))))
    } finally q.stop()
  }

  test("streaming enrichment: rangeJoin composes with a point stream " +
      "(stateless stream-static equi-join on the bucket)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // static validity windows; a stream of points is enriched per batch —
    // the bucketized rewrite keeps the stream side stateless (each point
    // maps to one bucket; the interval side is a static exploded table)
    val windows = Seq((0L, 100L, 150L, 10L), (0L, 200L, 260L, 11L),
      (1L, 100L, 300L, 12L)).toDF("k", "s", "e", "iid")
    val in = MemoryStream[(Long, Long, Long)] // (pid, k, p)
    val joined = graft.ops.Joins.rangeJoin(
      in.toDS().toDF("pid", "k", "p"), windows, Seq("k"), "p", "s", "e",
      bucketWidth = 64)
    val q = joined.select("pid", "iid").writeStream.format("memory")
      .queryName("srj").outputMode("append").start()
    try {
      in.addData((1L, 0L, 120L), (2L, 0L, 170L), (3L, 1L, 299L))
      q.processAllAvailable()
      in.addData((4L, 0L, 210L))
      q.processAllAvailable()
      val got = spark.sql("select pid, iid from srj").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 10L), (3L, 12L), (4L, 11L)))
    } finally q.stop()
  }

  test("CLI arg parsing mirrors validate_manifest flags") {
    val a = graft.run.Main.parseArgs(
      List("-c", "x.conf", "-o", "out.csv", "-i", "-v", "in.csv"),
      graft.run.Main.Args())
    assert(a === graft.run.Main.Args(Some("x.conf"), Some("out.csv"),
      invalidOnly = true, verbose = true, input = Some("in.csv")))
  }

  test("07: CLI black-box - config+CSV in, report/output CSV/exit code out") {
    val dir = Files.createTempDirectory("graft_cli")
    val conf = dir.resolve("m.conf")
    Files.writeString(conf,
      """<checklist one>
        |  header_row "one,two"
        |  <field>
        |    name one
        |    type Bool
        |  </field>
        |  <field>
        |    name two
        |    type Str
        |  </field>
        |</checklist>""".stripMargin)
    val bad = dir.resolve("broken.csv")
    Files.writeString(bad, "one,two\n1,two\nx,two\n")
    val good = dir.resolve("working.csv")
    Files.writeString(good, "one,two\n1,two\n0,two\n")
    val out = dir.resolve("out").toString

    import graft.run.Main
    def capture(args: Main.Args): (Int, String) = {
      val buf = new java.io.ByteArrayOutputStream()
      val exit = Console.withOut(buf)(Main.run(args, spark))
      (exit, buf.toString.trim)
    }
    val (e1, r1) = capture(Main.Args(config = Some(conf.toString),
      input = Some(good.toString)))
    assert(e1 === 0 && r1 === s"'$good' is valid")
    val (e2, r2) = capture(Main.Args(config = Some(conf.toString),
      output = Some(out), invalidOnly = true, input = Some(bad.toString)))
    assert(e2 === 1 && r2 === s"'$bad' is invalid. Found 1 invalid rows")
    val written = spark.read.option("header", true).csv(out).collect()
    assert(written.length === 1)
    assert(written.head.getString(0) === "x")
    assert(written.head.getString(2) ===
      "[errors found on row 2] [value in field 'one' is not valid]")
    // missing config -> exit 1
    assert(Main.run(Main.Args(input = Some(good.toString)), spark) === 1)
  }

  test("CLI: a manifest of 3 slices validates in 1 Spark job with -o and " +
      "at most 2 without; the CSV lists rows in input order") {
    import graft.run.Main
    val dir = Files.createTempDirectory("graft_cli_jobs")
    val conf = dir.resolve("m.conf")
    Files.writeString(conf,
      """<checklist one>
        |  header_row "one,two"
        |  <field>
        |    name one
        |    type Bool
        |  </field>
        |  <field>
        |    name two
        |    type Str
        |  </field>
        |</checklist>""".stripMargin)
    // 30,000 rows: ManifestReader parallelizes them in 3 slices
    val n = 30000
    val bad = (1 to n).filter(_ % 7 == 0).toSet
    val csv = dir.resolve("big.csv")
    Files.writeString(csv, (1 to n).map(i =>
      s"${if (bad(i)) "x" else "1"},r$i").mkString("one,two\n", "\n", "\n"))
    val out = dir.resolve("out").toString
    def capture(args: Main.Args): (Int, String) = {
      val buf = new java.io.ByteArrayOutputStream()
      val exit = Console.withOut(buf)(Main.run(args, spark))
      (exit, buf.toString.trim)
    }
    val args = Main.Args(config = Some(conf.toString), input = Some(csv.toString))
    val report = s"'$csv' is invalid. Found ${bad.size} invalid rows"

    val (withOut, jobs) = jobsIn("cli_jobs_out")(capture(args.copy(output = Some(out))))
    assert(withOut === ((1, report)) && jobs === 1, s"$jobs jobs with -o")
    val part = Files.list(java.nio.file.Paths.get(out)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-"))
    assert(part.length === 1)
    val lines = Files.readAllLines(part.head).toArray.map(_.toString).toSeq
    assert(lines.head === "one,two,errors")
    assert(lines.tail.map(_.split(",", 3)(1)) === (1 to n).map(i => s"r$i"))
    assert(lines.tail.zipWithIndex.forall { case (l, i) =>
      l.split(",", 3)(2).startsWith(s"[errors found on row ${i + 1}]") == bad(i + 1) })

    val (withoutOut, jobs2) = jobsIn("cli_jobs_no_out")(capture(args))
    assert(withoutOut === ((1, report)) && jobs2 <= 2, s"$jobs2 jobs without -o")
  }

  test("report wording + exit codes match the reference CLI") {
    assert(graft.engine.Validator.report("f.csv", 0) === ("'f.csv' is valid", 0))
    assert(graft.engine.Validator.report("f.csv", 3) ===
      ("'f.csv' is invalid. Found 3 invalid rows", 1))
  }
}
