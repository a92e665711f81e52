package graft

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** Snapshot-manifest table behavior: metadata-driven scans, manifest-side
 * partition pruning, snapshot isolation / time travel, dynamic partition
 * overwrite and append — the Iceberg access pattern without Iceberg. */
class SnapshotTableSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("snaptab").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def corpus(tag: String) = Seq(
    (1L, "src0", s"a-$tag"), (2L, "src0", s"b-$tag"),
    (3L, "src1", s"c-$tag"), (4L, "src1", s"d-$tag"))
    .toDF("id", "source", "payload")

  test("commit v1 + read: manifest-planned scan, files only from the snapshot tree") {
    val root = freshRoot()
    val s1 = SnapshotTable.commit(corpus("v1"), root, Seq("source"))
    assert(s1.version === 1 && s1.files.nonEmpty)
    val df = SnapshotTable.read(spark, root)
    assert(df.count() === 4)
    assert(df.select("id", "source", "payload").orderBy("id").collect().map(_.getString(2)).toSeq
      === Seq("a-v1", "b-v1", "c-v1", "d-v1"))
    // every planned file comes from the manifest, all under data/s1
    assert(df.inputFiles.nonEmpty && df.inputFiles.forall(_.contains("/data/s1/")))
  }

  test("manifest-side partition pruning shrinks the planned file set") {
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))
    val all = SnapshotTable.read(spark, root)
    val pruned = SnapshotTable.read(spark, root,
      partitionFilter = Map("source" -> "src0"))
    assert(pruned.count() === 2)
    assert(pruned.inputFiles.length < all.inputFiles.length,
      "partition predicate must prune files before Spark plans the scan")
    assert(pruned.inputFiles.forall(_.contains("source=src0")))
    // a filter matching nothing still yields the table schema, zero rows
    val none = SnapshotTable.read(spark, root,
      partitionFilter = Map("source" -> "nope"))
    assert(none.count() === 0)
    assert(none.columns.toSet === Set("id", "source", "payload"))
  }

  test("snapshot isolation: dynamic partition overwrite + time travel") {
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))
    // overwrite ONLY src0; src1 files are carried over from snapshot 1
    val patch = Seq((9L, "src0", "a-v2")).toDF("id", "source", "payload")
    val s2 = SnapshotTable.commit(patch, root, Seq("source"))
    assert(s2.version === 2)
    assert(SnapshotTable.currentVersion(spark, root) === Some(2))

    val cur = SnapshotTable.read(spark, root)
    assert(cur.count() === 3) // 1 new src0 row + 2 carried src1 rows
    assert(cur.filter($"source" === "src0").select("payload")
      .collect().map(_.getString(0)).toSeq === Seq("a-v2"))
    // the carried src1 files still point into data/s1 (no rewrite)
    assert(cur.inputFiles.exists(_.contains("/data/s1/")) &&
      cur.inputFiles.exists(_.contains("/data/s2/")))

    // time travel: v1 remains byte-complete
    val old = SnapshotTable.read(spark, root, version = Some(1))
    assert(old.count() === 4)
    assert(old.filter($"source" === "src0").count() === 2)
  }

  test("append mode adds files without dropping existing partition data") {
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))
    val extra = Seq((10L, "src0", "e-v2")).toDF("id", "source", "payload")
    SnapshotTable.commit(extra, root, Seq("source"), overwritePartitions = false)
    val cur = SnapshotTable.read(spark, root)
    assert(cur.count() === 5)
    assert(cur.filter($"source" === "src0").count() === 3)
  }

  test("incremental scan: changesBetween reads exactly the files added after `from`") {
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))
    SnapshotTable.commit(
      Seq((5L, "src1", "e-v2"), (6L, "src2", "f-v2")).toDF("id", "source", "payload"),
      root, Seq("source"), overwritePartitions = false)
    val delta = SnapshotTable.changesBetween(spark, root, 1, 2)
    assert(delta.orderBy("id").select("payload").collect().map(_.getString(0)).toSeq
      === Seq("e-v2", "f-v2"), "only the appended rows")
    assert(delta.inputFiles.forall(_.contains("/data/s2/")),
      "delta scan must touch only snapshot-2 files")
    // no change between identical versions: empty frame, right schema
    val none = SnapshotTable.changesBetween(spark, root, 2, 2)
    assert(none.count() === 0)
    assert(none.columns.toSeq.sorted === Seq("id", "payload", "source"))
    // dynamic overwrite of src1: its rewritten files are the delta
    SnapshotTable.commit(
      Seq((3L, "src1", "c-v3")).toDF("id", "source", "payload"),
      root, Seq("source"))
    val ow = SnapshotTable.changesBetween(spark, root, 2, 3)
    assert(ow.select("payload").collect().map(_.getString(0)).toSeq === Seq("c-v3"))
    intercept[IllegalArgumentException] {
      SnapshotTable.changesBetween(spark, root, 3, 1)
    }
  }

  test("partition values with '+' and escaped chars round-trip (no URLDecoder corruption)") {
    val root = freshRoot()
    val df = Seq((1L, "c++", "x"), (2L, "f#", "y"), (3L, "a b", "z"))
      .toDF("id", "lang", "payload")
    SnapshotTable.commit(df, root, Seq("lang"))
    // URLDecoder would turn 'c++' into 'c  '; the Hive %XX unescape must not
    assert(SnapshotTable.partitions(spark, root).map(_("lang")).toSet
      === Set("c++", "f#", "a b"))
    val got = SnapshotTable.read(spark, root,
      partitionFilter = Map("lang" -> "c++"))
    assert(got.count() === 1 && got.head().getLong(0) === 1L)
  }

  test("partition discovery is pure metadata (no listing, no scan)") {
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))
    assert(SnapshotTable.partitions(spark, root)
      === Seq(Map("source" -> "src0"), Map("source" -> "src1")))
    // partition-spec mismatch fails fast
    val bad = Seq((1L, "x", "y")).toDF("id", "source", "payload")
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(bad, root, Seq("id"))
    }
  }

  test("schema drift: a commit that adds, drops or retypes a column fails " +
      "naming it, and the table stays at its version") {
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))
    val widened = Seq((5L, "src0", "e", 7))
      .toDF("id", "source", "payload", "stars")
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.commit(widened, root, Seq("source"), overwritePartitions = false)
    }
    assert(e1.getMessage.contains("adds columns stars"))
    val narrowed = Seq((6L, "src0")).toDF("id", "source")
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.commit(narrowed, root, Seq("source"), overwritePartitions = false)
    }
    assert(e2.getMessage.contains("drops table columns payload"))
    val retyped = Seq(("x", "src0", "p")).toDF("id", "source", "payload")
    val e3 = intercept[IllegalArgumentException] {
      SnapshotTable.commit(retyped, root, Seq("source"), overwritePartitions = false)
    }
    assert(e3.getMessage.contains("id: bigint -> string"))
    assert(SnapshotTable.currentVersion(spark, root) === Some(1))
    // the same columns in another order are no drift
    SnapshotTable.commit(Seq(("f", 8L, "src1")).toDF("payload", "id", "source"),
      root, Seq("source"), overwritePartitions = false)
    val cur = SnapshotTable.read(spark, root)
    assert(cur.columns.toSeq === Seq("id", "payload", "source"))
    assert(cur.filter($"id" === 8L).select("payload").as[String].head() === "f")
  }

  test("partition values read back with their committed type: string " +
      "\"007\" stays \"007\", a long partition column stays bigint") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val root = freshRoot()
    SnapshotTable.commit(Seq((1L, "007", "x"), (2L, "010", "y"))
      .toDF("id", "lang", "payload"), root, Seq("lang"))
    SnapshotTable.commit(Seq((3L, "007", "z")).toDF("id", "lang", "payload"),
      root, Seq("lang"), overwritePartitions = false)
    def langs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("lang").as[String].collect().sorted.toSeq
    assert(SnapshotTable.partitions(spark, root).map(_("lang")) === Seq("007", "010"))
    val all = SnapshotTable.read(spark, root)
    assert(all.schema("lang").dataType === StringType)
    assert(langs(all) === Seq("007", "007", "010"))
    assert(langs(SnapshotTable.read(spark, root,
      partitionFilter = Map("lang" -> "007"))) === Seq("007", "007"))
    assert(langs(SnapshotTable.changesBetween(spark, root, 1, 2)) === Seq("007"))

    val longRoot = freshRoot()
    SnapshotTable.commit(Seq((1L, 7L), (2L, 10L)).toDF("id", "bucket"),
      longRoot, Seq("bucket"))
    val longs = SnapshotTable.read(spark, longRoot)
    assert(longs.schema("bucket").dataType === LongType)
    assert(longs.select("bucket").as[Long].collect().sorted.toSeq === Seq(7L, 10L))
  }

  test("a manifest carrying delete entries, or recording no schema, fails " +
      "naming its file") {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))
    val manifest = new java.io.File(s"$root/metadata/v1.json")
    val mapper = new ObjectMapper()
    val committed = mapper.readTree(manifest).asInstanceOf[ObjectNode]
    // the local file system checks a hand-edited file against its .crc
    new java.io.File(s"$root/metadata/.v1.json.crc").delete()
    def readWith(edit: ObjectNode => Unit): String = {
      val node = committed.deepCopy()
      edit(node)
      mapper.writeValue(manifest, node)
      intercept[IllegalStateException](SnapshotTable.read(spark, root)).getMessage
    }
    // an equality delete of id 1, as a merge-on-read writer records it
    val withDeletes = readWith { n =>
      val e = n.putArray("eqDeletes").addObject()
      e.putArray("paths").add(s"$root/deletes/s2/part-0.parquet")
      e.putArray("keyCols").add("id")
      e.put("version", 2); e.put("rows", 1L)
    }
    assert(withDeletes.contains(manifest.getAbsolutePath) &&
      withDeletes.contains("eqDeletes"))
    val noSchema = readWith(_.remove("schema"))
    assert(noSchema.contains(manifest.getAbsolutePath) &&
      noSchema.contains("no table schema"))
  }

  test("file-level stats + data skipping: commit records per-file min/max; " +
      "rangeFilter prunes files typed-numerically, results stay exact") {
    val root = freshRoot()
    // range-partition by id so each parquet file covers a disjoint id range
    val df = (1L to 400L).map(i =>
      (i, if (i <= 200) "src0" else "src1", f"p$i%04d"))
      .toDF("id", "source", "payload")
      .repartitionByRange(4, col("id"))
    val snap = SnapshotTable.commit(df, root, Seq("source"),
      statsCols = Seq("id", "payload"))
    assert(snap.statsKinds === Map("id" -> "long", "payload" -> "string"))
    assert(snap.files.forall(_.stats.keySet === Set("id", "payload")))
    // bounds really are per-file bounds
    snap.files.foreach { fe =>
      val (lo, hi) = fe.stats("id")
      assert(lo.toLong <= hi.toLong)
    }
    val full = SnapshotTable.read(spark, root)
    val skip = SnapshotTable.read(spark, root,
      rangeFilter = Map("id" -> (("50", "60"))))
    assert(skip.inputFiles.length < full.inputFiles.length,
      s"skipping must drop files: ${skip.inputFiles.length} vs ${full.inputFiles.length}")
    // pruned-plus-residual == exact answer (skipping returns a superset)
    assert(skip.filter(col("id").between(50, 60)).count() === 11)
    assert(skip.count() >= 11)
    // long kind compares NUMERICALLY: lexicographic "9" > "10" would
    // wrongly prune everything here
    val skip2 = SnapshotTable.read(spark, root,
      rangeFilter = Map("id" -> (("9", "10"))))
    assert(skip2.filter(col("id").between(9, 10)).count() === 2)
    // string stats skip too (payload is zero-padded, lexicographic == numeric)
    val skipS = SnapshotTable.read(spark, root,
      rangeFilter = Map("payload" -> (("p0350", "p0360"))))
    assert(skipS.inputFiles.length < full.inputFiles.length)
    assert(skipS.filter(col("payload").between("p0350", "p0360")).count() === 11)
    // per-file keying survives a writer task covering TWO partition dirs:
    // repartition(1) makes one task emit part-00000 in BOTH source dirs
    // (same basename!) — the bounds must stay per-file, never merged
    val root2 = freshRoot()
    val df2 = (1L to 100L).map(i =>
      (i, if (i <= 50) "src0" else "src1", s"q$i"))
      .toDF("id", "source", "payload").repartition(1)
    val snap2 = SnapshotTable.commit(df2, root2, Seq("source"),
      statsCols = Seq("id"))
    val bounds = snap2.files.map(fe =>
      fe.partition("source") -> fe.stats("id")).toMap
    assert(bounds("src0") === (("1", "50")))
    assert(bounds("src1") === (("51", "100")))
    // un-statted column -> named error
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, root, rangeFilter = Map("nope" -> (("a", "b"))))
    }
    assert(err.getMessage.contains("no committed stats"))
    // old manifests (no stats) still read: append WITHOUT stats keeps kinds
    val s2 = SnapshotTable.commit(
      Seq((999L, "src0", "pZ")).toDF("id", "source", "payload"),
      root, Seq("source"), overwritePartitions = false)
    assert(s2.statsKinds === Map("id" -> "long", "payload" -> "string"))
    assert(SnapshotTable.read(spark, root).count() === 401)
  }

  test("expireSnapshots deletes only what expired snapshots exclusively reference") {
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))           // v1
    SnapshotTable.commit(                                              // v2: overwrite src0
      Seq((9L, "src0", "a-v2")).toDF("id", "source", "payload"),
      root, Seq("source"))
    SnapshotTable.commit(                                              // v3 append
      Seq((10L, "src2", "g-v3")).toDF("id", "source", "payload"),
      root, Seq("source"), overwritePartitions = false)
    val expect = SnapshotTable.read(spark, root)
      .orderBy("id").collect().map(_.toSeq).toSeq

    val expired = SnapshotTable.expireSnapshots(spark, root, keepLast = 2)
    assert(expired === Seq(1))
    // current and v2 still byte-complete (v2's carried src1 files came
    // from v1's tree but are still live -> must NOT have been deleted)
    assert(SnapshotTable.read(spark, root)
      .orderBy("id").collect().map(_.toSeq).toSeq === expect)
    assert(SnapshotTable.read(spark, root, version = Some(2)).count() === 3)
    // time travel to the expired version fails with the ordinary error
    intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, root, version = Some(1))
    }
    // v1's src0 files (superseded by the v2 overwrite) really are gone
    val f = new java.io.File(s"$root/data/s1/source=src0")
    assert(!f.exists() || f.listFiles().forall(!_.getName.endsWith(".parquet")))
    // idempotent: nothing more to expire
    assert(SnapshotTable.expireSnapshots(spark, root, keepLast = 2) === Seq.empty)
  }

  test("schema evolution: accidental drift fails fast; explicit additive " +
      "evolution NULL-fills old files; time travel sees each version's schema") {
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))
    // accidental extra column -> named error, no commit
    val widened = Seq((5L, "src0", "e", 7))
      .toDF("id", "source", "payload", "stars")
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.commit(widened, root, Seq("source"), overwritePartitions = false)
    }
    assert(e1.getMessage.contains("stars") &&
      e1.getMessage.contains("allowSchemaEvolution"))
    assert(SnapshotTable.currentVersion(spark, root) === Some(1))
    // dropping a column is never evolution
    val narrowed = Seq((6L, "src0")).toDF("id", "source")
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.commit(narrowed, root, Seq("source"),
        overwritePartitions = false, allowSchemaEvolution = true)
    }
    assert(e2.getMessage.contains("additive"))
    // neither is a type change
    val retyped = Seq(("x", "src0", "p")).toDF("id", "source", "payload")
    val e3 = intercept[IllegalArgumentException] {
      SnapshotTable.commit(retyped, root, Seq("source"),
        overwritePartitions = false, allowSchemaEvolution = true)
    }
    assert(e3.getMessage.contains("type change"))

    // explicit additive evolution
    val s2 = SnapshotTable.commit(widened, root, Seq("source"),
      overwritePartitions = false, allowSchemaEvolution = true)
    assert(s2.columns.map(_._1) === Seq("id", "payload", "stars"))
    val cur = SnapshotTable.read(spark, root)
    assert(cur.columns.take(3) === Array("id", "payload", "stars"))
    assert(cur.count() === 5)
    // v1 rows read back with NULL stars; the v2 row keeps its value
    assert(cur.filter($"stars".isNull).count() === 4)
    assert(cur.filter($"id" === 5L).select("stars").head().getInt(0) === 7)
    // post-evolution appends no longer need the flag
    SnapshotTable.commit(
      Seq((8L, "src1", "f", 9)).toDF("id", "source", "payload", "stars"),
      root, Seq("source"), overwritePartitions = false)
    assert(SnapshotTable.read(spark, root).count() === 6)
    // time travel: v1 exposes the ORIGINAL schema, no stars column
    val old = SnapshotTable.read(spark, root, version = Some(1))
    assert(!old.columns.contains("stars") && old.count() === 4)
    // incremental scan across the evolution aligns to the TO-version schema
    val delta = SnapshotTable.changesBetween(spark, root, 1, 3)
    assert(delta.columns.contains("stars"))
    assert(delta.orderBy("id").select("id", "stars").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
      === Seq((5L, 7), (8L, 9)))
  }

  test("WAP stage/publish: staged rows invisible to readers until publish; " +
      "staged view shows the full would-be table; publish is metadata-only") {
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))

    val staged = SnapshotTable.stageCommit(
      Seq((9L, "src2", "staged")).toDF("id", "source", "payload"),
      root, Seq("source"))
    assert(staged.version === 2)
    // published world is untouched: version hint, read, rowCount
    assert(SnapshotTable.currentVersion(spark, root) === Some(1))
    assert(SnapshotTable.read(spark, root).count() === 4)
    assert(SnapshotTable.stagedSnapshot(spark, root).map(_.version) === Some(2))
    // the audit view is the FULL table as published: carried + staged
    val view = SnapshotTable.readStaged(spark, root)
    assert(view.count() === 5)
    assert(view.filter($"payload" === "staged").count() === 1)
    // manifest-side partition pruning works on the staged view too
    assert(SnapshotTable.readStaged(spark, root,
      partitionFilter = Map("source" -> "src2")).count() === 1)

    val pub = SnapshotTable.publishStaged(spark, root)
    assert(pub.version === 2)
    assert(SnapshotTable.currentVersion(spark, root) === Some(2))
    assert(SnapshotTable.read(spark, root).count() === 5)
    assert(SnapshotTable.stagedSnapshot(spark, root).isEmpty)
    // time travel across the published stage
    assert(SnapshotTable.read(spark, root, version = Some(1)).count() === 4)
    // and the incremental scan delivers exactly the staged delta
    assert(SnapshotTable.changesBetween(spark, root, 1, 2)
      .select("payload").head().getString(0) === "staged")
  }

  test("WAP abort: staged subtree deleted, carried files untouched, " +
      "version number is reusable; writers are blocked while a stage pends") {
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))
    SnapshotTable.stageCommit(
      Seq((9L, "src0", "doomed")).toDF("id", "source", "payload"),
      root, Seq("source"))

    // every data-changing writer fails fast while the stage pends
    val blocked = Seq(
      intercept[IllegalArgumentException] {
        SnapshotTable.commit(corpus("v2"), root, Seq("source")) },
      intercept[IllegalArgumentException] {
        SnapshotTable.stageCommit(corpus("v2"), root, Seq("source")) },
      intercept[IllegalArgumentException] {
        SnapshotTable.auditedCommit(corpus("v2"), root, Seq("source"), _ => None) })
    blocked.foreach(e => assert(e.getMessage.contains("pending staged commit")))

    SnapshotTable.abortStaged(spark, root)
    // staged data subtree is gone; published v1 data untouched
    val f = new java.io.File(root, "data/s2")
    assert(!f.exists())
    assert(SnapshotTable.read(spark, root).count() === 4)
    // version 2 is free again: the next commit takes it
    val s2 = SnapshotTable.commit(
      Seq((9L, "src2", "real")).toDF("id", "source", "payload"),
      root, Seq("source"))
    assert(s2.version === 2)
    assert(SnapshotTable.read(spark, root).count() === 5)
  }

  test("removeOrphanFiles: deletes only unreferenced data files past the " +
      "grace period; staged files and live snapshots are protected") {
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))

    // plant orphans: a stray file inside a live partition dir and a whole
    // subtree from a "crashed commit" that never published its manifest
    def plant(rel: String): java.io.File = {
      val f = new java.io.File(root, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
      f
    }
    val o1 = plant("data/s1/source=src0/part-99999-orphan.parquet")
    val o2 = plant("data/s7/source=srcX/part-00000-crashed.parquet")

    // grace period: young files survive even when unreferenced
    assert(SnapshotTable.removeOrphanFiles(spark, root).isEmpty)
    assert(o1.exists() && o2.exists())

    // a pending stage's files are referenced — never orphans
    SnapshotTable.stageCommit(
      Seq((9L, "src2", "staged")).toDF("id", "source", "payload"),
      root, Seq("source"))
    // negative grace => cutoff in the future => age test always passes
    val deleted = SnapshotTable.removeOrphanFiles(spark, root, olderThanMs = -60000)
    // both planted orphans go; so do Spark's unreferenced _SUCCESS markers
    // (reads are manifest-planned — any unreferenced file is dead weight);
    // no referenced parquet file is ever touched
    assert(deleted.count(_.contains("orphan")) === 1)
    assert(deleted.count(_.contains("crashed")) === 1)
    assert(deleted.forall(p => p.contains("orphan") || p.contains("crashed")
      || p.endsWith("_SUCCESS")))
    assert(!o1.exists() && !o2.exists())
    assert(!new java.io.File(root, "data/s7").exists()) // empty dirs pruned
    // staged + published data fully intact
    assert(SnapshotTable.readStaged(spark, root).count() === 5)
    SnapshotTable.publishStaged(spark, root)
    assert(SnapshotTable.read(spark, root).count() === 5)
    assert(SnapshotTable.read(spark, root, version = Some(1)).count() === 4)
  }

  test("auditedCommit: failing audit aborts (table unchanged, reason " +
      "returned); passing audit publishes — the validation WAP loop") {
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))

    // audit = a validation gate over the FULL staged table view
    def noNullPayloads(t: org.apache.spark.sql.DataFrame): Option[String] = {
      val bad = t.filter($"payload".isNull).count()
      if (bad == 0) None else Some(s"$bad rows with NULL payload")
    }

    val rejected = SnapshotTable.auditedCommit(
      Seq((9L, "src2", null.asInstanceOf[String])).toDF("id", "source", "payload"),
      root, Seq("source"), noNullPayloads)
    assert(rejected === Left("1 rows with NULL payload"))
    assert(SnapshotTable.currentVersion(spark, root) === Some(1))
    assert(SnapshotTable.read(spark, root).count() === 4)
    assert(SnapshotTable.stagedSnapshot(spark, root).isEmpty)

    val accepted = SnapshotTable.auditedCommit(
      Seq((9L, "src2", "ok")).toDF("id", "source", "payload"),
      root, Seq("source"), noNullPayloads)
    assert(accepted.isRight && accepted.toOption.get.version === 2)
    assert(SnapshotTable.read(spark, root).count() === 5)
  }

  test("named refs: immutable tags, fast-forward-only branches, ref reads") {
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))            // v1
    SnapshotTable.commit(                                              // v2
      Seq((10L, "src2", "g-v2")).toDF("id", "source", "payload"),
      root, Seq("source"), overwritePartitions = false)

    // a table with no refs reports none
    assert(SnapshotTable.refs(spark, root).isEmpty)

    // tag v1 explicitly; branch defaults to current (v2)
    val t = SnapshotTable.tagSnapshot(spark, root, "release-1", Some(1))
    assert(t.kind === "tag" && t.version === 1)
    val b = SnapshotTable.createBranch(spark, root, "audit")
    assert(b.kind === "branch" && b.version === 2)

    // ref reads resolve through ordinary version-pinned scan planning
    assert(SnapshotTable.readRef(spark, root, "release-1").count() === 4)
    assert(SnapshotTable.readRef(spark, root, "audit").count() === 5)
    assert(SnapshotTable.readRef(spark, root, "release-1",
      partitionFilter = Map("source" -> "src0")).count() === 2)

    // tags never move; names are single-namespace; bad inputs fail loud
    intercept[IllegalArgumentException] {
      SnapshotTable.tagSnapshot(spark, root, "release-1", Some(2))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.createBranch(spark, root, "release-1")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.tagSnapshot(spark, root, "bad name")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.tagSnapshot(spark, root, "ghost", Some(99))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.readRef(spark, root, "nope")
    }

    // branches fast-forward only, and only branches fast-forward
    SnapshotTable.commit(                                              // v3
      Seq((11L, "src2", "h-v3")).toDF("id", "source", "payload"),
      root, Seq("source"), overwritePartitions = false)
    val b2 = SnapshotTable.fastForwardBranch(spark, root, "audit")
    assert(b2.version === 3)
    intercept[IllegalArgumentException] {
      SnapshotTable.fastForwardBranch(spark, root, "audit", Some(1))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.fastForwardBranch(spark, root, "release-1", Some(3))
    }
    assert(SnapshotTable.refVersion(spark, root, "audit") === 3)

    // the refs metadata table mirrors the pointer file, name-sorted
    val rt = SnapshotTable.refsTable(spark, root).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rt === Seq(("audit", "branch", 3L), ("release-1", "tag", 1L)))
    SnapshotTable.dropRef(spark, root, "audit")
    assert(SnapshotTable.refsTable(spark, root).count() === 1)
  }

  test("refs pin snapshots against expiration; dropRef releases them") {
    val root = freshRoot()
    SnapshotTable.commit(corpus("v1"), root, Seq("source"))            // v1
    SnapshotTable.tagSnapshot(spark, root, "release-1")                // pin v1
    SnapshotTable.commit(                                              // v2: overwrite src0
      Seq((9L, "src0", "a-v2")).toDF("id", "source", "payload"),
      root, Seq("source"))
    SnapshotTable.commit(                                              // v3 append
      Seq((10L, "src2", "g-v3")).toDF("id", "source", "payload"),
      root, Seq("source"), overwritePartitions = false)
    val v1Rows = SnapshotTable.read(spark, root, version = Some(1))
      .orderBy("id").collect().map(_.toSeq).toSeq

    // keepLast=1 would expire v1 and v2 — but the tag pins v1, so only
    // v2 goes, and v1 stays byte-complete (including the src0 files the
    // v2 overwrite superseded)
    assert(SnapshotTable.expireSnapshots(spark, root, keepLast = 1) === Seq(2))
    assert(SnapshotTable.readRef(spark, root, "release-1")
      .orderBy("id").collect().map(_.toSeq).toSeq === v1Rows)
    intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, root, version = Some(2))
    }

    // releasing the pin makes v1 ordinarily expirable, files and all
    SnapshotTable.dropRef(spark, root, "release-1")
    assert(SnapshotTable.expireSnapshots(spark, root, keepLast = 1) === Seq(1))
    intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, root, version = Some(1))
    }
    val f = new java.io.File(s"$root/data/s1/source=src0")
    assert(!f.exists() || f.listFiles().forall(!_.getName.endsWith(".parquet")))
    // current snapshot untouched throughout: 1 src0-overwrite row +
    // 2 carried src1 rows + 1 appended src2 row
    assert(SnapshotTable.read(spark, root).count() === 4)
  }
}
