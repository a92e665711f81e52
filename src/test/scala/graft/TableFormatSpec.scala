package graft

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/**
 * Conformance suite for [[graft.sources.SnapshotTable]]'s table-format
 * contract — the Iceberg-shaped surface (commit, time travel,
 * incremental and changelog scans, CoW and merge-on-read row-level
 * writes, metadata tables) the engine and the maintenance planner rely
 * on. An Iceberg DSv2 replacement would have to pass these same cases.
 */
class TableFormatSpec extends SparkSuite {
  import spark.implicits._

  /** A row-level write's (snapshot, count) as (version, count). */
  private def versioned(r: (SnapshotTable.Snapshot, Long)): (Int, Long) =
    (r._1.version, r._2)

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("tablefmt").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def corpus(tag: String) = Seq(
    (1L, "src0", s"a-$tag"), (2L, "src0", s"b-$tag"),
    (3L, "src1", s"c-$tag"), (4L, "src1", s"d-$tag"))
    .toDF("id", "source", "payload")

  test("conformance: commit/read/currentVersion round-trip") {
    val root = freshRoot()
    assert(SnapshotTable.currentVersion(spark, root).isEmpty)
    val v1 = SnapshotTable.commit(corpus("v1"), root, Seq("source")).version
    assert(SnapshotTable.currentVersion(spark, root) === Some(v1))
    val df = SnapshotTable.read(spark, root)
    assert(df.count() === 4)
    // manifest-side partition pruning
    val pruned = SnapshotTable.read(spark, root,
      partitionFilter = Map("source" -> "src0"))
    assert(pruned.count() === 2)
    assert(pruned.inputFiles.length < df.inputFiles.length)
  }

  test("conformance: dynamic overwrite, time travel and incremental scan") {
    val root = freshRoot()
    val v1 = SnapshotTable.commit(corpus("v1"), root, Seq("source")).version
    // overwrite ONE partition; the other carries forward
    val v2 = SnapshotTable.commit(
      Seq((9L, "src0", "x-v2")).toDF("id", "source", "payload"), root, Seq("source"), overwritePartitions = true).version
    assert(v2 === v1 + 1)
    val now = SnapshotTable.read(spark, root).orderBy("id")
      .select("payload").collect().map(_.getString(0)).toSeq
    assert(now === Seq("c-v1", "d-v1", "x-v2"))
    // time travel: v1 stays fully readable
    assert(SnapshotTable.read(spark, root, version = Some(v1)).count() === 4)
    // incremental: exactly the delta's rows
    val delta = SnapshotTable.changesBetween(spark, root, v1, v2)
    assert(delta.select("payload").collect().map(_.getString(0)).toSeq
      === Seq("x-v2"))
    // empty range keeps the schema
    val none = SnapshotTable.changesBetween(spark, root, v2, v2)
    assert(none.count() === 0 && none.columns.toSeq.sorted
      === Seq("id", "payload", "source"))
    // metadata-only partition discovery
    assert(SnapshotTable.partitions(spark, root).map(_("source")).sorted
      === Seq("src0", "src1"))
  }

  test("conformance: per-file stats at commit + range-filtered read") {
    val root = freshRoot()
    val df = (1L to 100L).map(i => (i, "src0", s"p$i"))
      .toDF("id", "source", "payload")
      .repartitionByRange(4, col("id"))
    SnapshotTable.commit(df, root, Seq("source"), statsCols = Seq("id"))
    val full = SnapshotTable.read(spark, root)
    val skip = SnapshotTable.read(spark, root, rangeFilter = Map("id" -> (("10", "15"))))
    assert(skip.inputFiles.length < full.inputFiles.length)
    assert(skip.filter(col("id").between(10, 15)).count() === 6)
  }

  test("conformance: row-level deleteWhere and key-based merge through the seam") {
    val root = freshRoot()
    val v1 = SnapshotTable.commit(corpus("v1").coalesce(1), root, Seq("source")).version
    // delete: only matching rows go, version advances, count comes back
    val (v2, deleted) = versioned(
      SnapshotTable.deleteWhere(spark, root, col("payload") === "a-v1"))
    assert(v2 === v1 + 1 && deleted === 1L)
    assert(SnapshotTable.read(spark, root).count() === 3)
    // no-match predicate commits nothing
    val (sameV, zero) = versioned(
      SnapshotTable.deleteWhere(spark, root, col("payload") === "nope"))
    assert(sameV === v2 && zero === 0L)
    // merge: update one key, insert another
    val delta = Seq((3L, "src1", "C-FIXED"), (5L, "src2", "e-new"))
      .toDF("id", "source", "payload")
    val v3 = SnapshotTable.merge(delta, root, Seq("id")).version
    assert(v3 === v2 + 1)
    val cur = SnapshotTable.read(spark, root)
    assert(cur.count() === 4)
    assert(cur.filter(col("id") === 3).select("payload").head().getString(0)
      === "C-FIXED")
    // time travel still sees every prior state
    assert(SnapshotTable.read(spark, root, version = Some(v1)).count() === 4)
    assert(SnapshotTable.read(spark, root, version = Some(v2)).count() === 3)
  }

  test("conformance: merge-on-read delete and materialization through the seam") {
    val root = freshRoot()
    val v1 = SnapshotTable.commit(corpus("v1").coalesce(1), root, Seq("source")).version
    val (v2, n) = versioned(
      SnapshotTable.deleteWhereMoR(spark, root, col("payload") === "b-v1"))
    assert(v2 === v1 + 1 && n === 1L)
    assert(SnapshotTable.read(spark, root).count() === 3)
    // no-match MoR delete commits nothing
    val (sameV, zero) = versioned(
      SnapshotTable.deleteWhereMoR(spark, root, col("payload") === "nope"))
    assert(sameV === v2 && zero === 0L)
    // equality delete: zero-read commit, key count back
    val (v3e, keysN) = versioned(SnapshotTable.deleteByKeysMoR(
      Seq(3L).toDF("id"), root, Seq("id")))
    assert(v3e === v2 + 1 && keysN === 1L)
    assert(SnapshotTable.read(spark, root).count() === 2)
    // materialize folds the pending deletes; content unchanged
    val v3 = SnapshotTable.materializeDeletes(spark, root).version
    assert(v3 === v3e + 1)
    assert(SnapshotTable.read(spark, root).count() === 2)
    assert(SnapshotTable.materializeDeletes(spark, root).version === v3) // idempotent
    // time travel: pre-delete and MoR views both hold
    assert(SnapshotTable.read(spark, root, version = Some(v1)).count() === 4)
    assert(SnapshotTable.read(spark, root, version = Some(v2)).count() === 3)
  }

  test("conformance: per-file Bloom point-lookup skipping through the seam") {
    val root = freshRoot()
    // 40 rows with a high-cardinality identity column, hash-spread over
    // several files per partition so neither range stats nor partition
    // pruning could help an equality probe
    val rows = (1 to 40).map(i =>
      (i.toLong, if (i % 2 == 0) "src0" else "src1", s"sha_$i"))
      .toDF("id", "source", "sha").repartition(4, col("sha"))
    val v1 = SnapshotTable.commit(rows, root, Seq("source"),
      bloomCols = Seq("sha")).version
    val full = SnapshotTable.read(spark, root)
    assert(full.count() === 40)
    // present key: exact answer after the caller's row predicate, and the
    // scan touched FEWER files than the full read (manifest-side pruning)
    val probed = SnapshotTable.read(spark, root, keyEquals = Map("sha" -> "sha_17"))
    assert(probed.filter(col("sha") === "sha_17").count() === 1)
    assert(probed.inputFiles.length < full.inputFiles.length)
    // absent key: near-total prune, still an exact (empty) answer
    val absent = SnapshotTable.read(spark, root, keyEquals = Map("sha" -> "sha_nope"))
    assert(absent.filter(col("sha") === "sha_nope").count() === 0)
    assert(absent.inputFiles.length < full.inputFiles.length)
    // an un-bloomed column fails loud, not silently unpruned
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, root, keyEquals = Map("id" -> "17"))
    }
    assert(err.getMessage.contains("no committed bloom"))
    // the bloom spec is INHERITED by a later commit that doesn't re-spell
    // it, and new files are probe-able immediately
    val v2 = SnapshotTable.commit(
      Seq((41L, "src0", "sha_41")).toDF("id", "source", "sha"), root, Seq("source"), overwritePartitions = false).version
    assert(v2 === v1 + 1)
    val p41 = SnapshotTable.read(spark, root, keyEquals = Map("sha" -> "sha_41"))
    assert(p41.filter(col("sha") === "sha_41").count() === 1)
  }

  test("conformance: equality-delete key hygiene — empty and NULL-component key frames commit nothing") {
    val root = freshRoot()
    val v1 = SnapshotTable.commit(corpus("v1").coalesce(1), root, Seq("source")).version
    // empty key frame: no version, zero keys (a 0-row tombstone write has
    // no readable parquet files — the count must happen before the write)
    val (vE, nE) = versioned(SnapshotTable.deleteByKeysMoR(
      Seq.empty[Long].toDF("id"), root, Seq("id")))
    assert(vE === v1 && nE === 0L)
    // all-NULL key components: SQL equality never matches them, so the
    // frame is as empty as the empty one
    val (vN, nN) = versioned(SnapshotTable.deleteByKeysMoR(
      Seq(Option.empty[Long], Option.empty[Long]).toDF("id"), root, Seq("id")))
    assert(vN === v1 && nN === 0L)
    // a mixed frame retracts only the non-NULL key
    val (vM, nM) = versioned(SnapshotTable.deleteByKeysMoR(
      Seq(Option(2L), Option.empty[Long]).toDF("id"), root, Seq("id")))
    assert(vM === v1 + 1 && nM === 1L)
    assert(SnapshotTable.read(spark, root).count() === 3)
    assert(SnapshotTable.read(spark, root).filter(col("id") === 2).count() === 0)
  }

  test("conformance: files and snapshots metadata tables") {
    val root = freshRoot()
    val v1 = SnapshotTable.commit(corpus("v1").repartitionByRange(2, col("id")),
      root, Seq("source"), statsCols = Seq("id")).version
    val v2 = SnapshotTable.commit(
      Seq((5L, "src0", "e-v2")).toDF("id", "source", "payload"),
      root, Seq("source"), overwritePartitions = false).version
    val (v3, _) = versioned(
      SnapshotTable.deleteByKeysMoR(Seq(3L).toDF("id"), root, Seq("id")))

    // files: pinned schema, one "data" row per scanned file,
    // physical record/byte truth, partition + committed bounds attached
    val files = SnapshotTable.filesTable(spark, root)
    assert(files.schema === SnapshotTable.filesTableSchema)
    val data = files.filter(col("content") === "data").collect()
    assert(data.length ===
      SnapshotTable.read(spark, root, version = Some(v2)).inputFiles.length)
    assert(data.map(_.getLong(3)).sum === 5L) // pre-delete physical rows
    assert(data.forall(r => Set("src0", "src1")(
      r.getMap[String, String](2).toMap.apply("source"))))
    assert(data.forall(r => r.getLong(4) > 0L))
    // v1's files carry the committed id bounds; the un-stats'd delete
    // files carry empty maps, never nulls
    assert(data.exists(_.getMap[String, String](5).toMap.contains("id")))
    val dels = files.filter(col("content") === "equality-deletes").collect()
    assert(dels.nonEmpty)
    assert(dels.map(r => Option(r.get(3)).fold(0L)(_ => r.getLong(3))).sum === 1L)
    assert(dels.forall(_.getMap[String, String](2).toMap.isEmpty))
    // time travel: the v1 view has no delete files and v1's row count
    val at1 = SnapshotTable.filesTable(spark, root, version = Some(v1))
    assert(at1.filter(col("content") =!= "data").count() === 0)
    assert(at1.agg(sum("record_count")).head().getLong(0) === 4L)

    // snapshots: one row per live version, ascending, operations and
    // current flag right, physical counts consistent with filesTable
    val snaps = SnapshotTable.snapshotsTable(spark, root)
    assert(snaps.schema === SnapshotTable.snapshotsTableSchema)
    val rows = snaps.collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(v1, v2, v3).map(_.toLong))
    assert(rows.map(_.getString(1)).toSeq === Seq("write", "write", "delete"))
    assert(rows.map(_.getBoolean(6)).toSeq === Seq(false, false, true))
    assert(rows.last.getLong(2) === data.length.toLong) // data_file_count
    assert(rows.last.getLong(3) >= 1L)                  // delete_file_count
    assert(rows.last.getLong(4) === 5L)                 // physical record_count
    assert(rows.head.getLong(3) === 0L)
  }

  test("conformance: row-level changelog — replay invariant across appends, " +
      "MoR deletes and a CoW merge; MoR commits row-exact; empty interval") {
    val root = freshRoot()
    val v1 = SnapshotTable.commit(corpus("v1").coalesce(1), root, Seq("source")).version
    val v2 = SnapshotTable.commit(
      Seq((5L, "src0", "e-v2")).toDF("id", "source", "payload"),
      root, Seq("source"), overwritePartitions = false).version
    val (v3, _) = versioned(
      SnapshotTable.deleteWhereMoR(spark, root, col("id") === 2L))
    val (v4, _) = versioned(
      SnapshotTable.deleteByKeysMoR(Seq(3L, 99L).toDF("id"), root, Seq("id")))
    val v5 = SnapshotTable.merge(
      Seq((1L, "src0", "a-UPD"), (7L, "src1", "g-v5")).toDF("id", "source", "payload"),
      root, Seq("id")).version

    val log = SnapshotTable.changelogBetween(spark, root, v1, v5)
      .select("id", "source", "payload", "_change_type", "_commit_version")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getInt(4)))
    assert(log.forall(t => t._4 == "insert" || t._4 == "delete"))
    // MoR commits are row-exact
    assert(log.filter(_._5 == v3).toSet === Set((2L, "src0", "b-v1", "delete", v3)))
    assert(log.filter(_._5 == v4).toSet === Set((3L, "src1", "c-v1", "delete", v4)))
    assert(log.filter(_._5 == v2).toSet === Set((5L, "src0", "e-v2", "insert", v2)))
    // the contract: state(v-1) − deletes(v) + inserts(v) == state(v) as
    // multisets, for EVERY version (CoW rewrites report at whole-file
    // granularity — netness is not asserted, the invariant is)
    def state(v: Int): Map[(Long, String, String), Int] =
      SnapshotTable.read(spark, root, Some(v))
        .select("id", "source", "payload").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
    for (v <- (v1 + 1) to v5) {
      val ins = log.filter(t => t._5 == v && t._4 == "insert")
        .map(t => (t._1, t._2, t._3)).groupBy(identity).view.mapValues(_.length)
      val del = log.filter(t => t._5 == v && t._4 == "delete")
        .map(t => (t._1, t._2, t._3)).groupBy(identity).view.mapValues(_.length)
      val replayed = (state(v - 1).keySet ++ ins.keys).flatMap { k =>
        val n = state(v - 1).getOrElse(k, 0) + ins.getOrElse(k, 0) - del.getOrElse(k, 0)
        if (n > 0) Some(k -> n) else None
      }.toMap
      assert(replayed === state(v), s"changelog replay of v$v diverged")
    }
    // materialization is logically silent in the changelog
    val vM = SnapshotTable.materializeDeletes(spark, root).version
    if (vM > v5)
      assert(SnapshotTable.changelogBetween(spark, root, v5, vM).count() === 0)
    // empty interval: zero rows, changelog schema intact
    val empty = SnapshotTable.changelogBetween(spark, root, v4, v4)
    assert(empty.count() === 0)
    assert(empty.columns.contains("_change_type") &&
      empty.columns.contains("_commit_version"))
  }

  test("conformance: PARTITION-column-keyed equality delete + sequence-rule " +
      "re-insert survive materialization; changelog stays silent") {
    // the round-4 SnapshotTable defect class: an equality delete keyed
    // on the partition column must apply to files by SEQUENCE (earlier
    // files die, later re-inserts into the same partition survive), and
    // folding the pending deletes into the data must neither resurrect
    // deleted rows nor lose survivors — with the partition key resolving
    // on the candidate frame during the rewrite.
    val root = freshRoot()
    // ids 1-4
    val v1 = SnapshotTable.commit(corpus("v1").coalesce(1), root, Seq("source")).version
    // equality delete keyed on the PARTITION column: kills src0 (ids 1,2)
    val (v2, nKeys) = versioned(SnapshotTable.deleteByKeysMoR(
      Seq("src0").toDF("source"), root, Seq("source")))
    assert(v2 === v1 + 1 && nKeys === 1L)
    assert(SnapshotTable.read(spark, root).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(3L, 4L))
    // re-inserts into src0 AFTER the delete: sequence rule keeps them
    val v3 = SnapshotTable.commit(
      Seq((5L, "src0", "e-v3")).toDF("id", "source", "payload"), root, Seq("source"), overwritePartitions = false).version
    val v4 = SnapshotTable.commit(
      Seq((7L, "src0", "g-v4")).toDF("id", "source", "payload"), root, Seq("source"), overwritePartitions = false).version
    val expect = SnapshotTable.read(spark, root)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(expect.map(_.head) === Seq(3L, 4L, 5L, 7L))

    // fold the pending deletes into the data files
    val vM = SnapshotTable.materializeDeletes(spark, root).version
    assert(vM >= v4)
    assert(SnapshotTable.read(spark, root).orderBy("id").collect().map(_.toSeq).toSeq
      === expect, "materialization changed logical content")
    // pending delete files are gone from the current snapshot's file set
    val kinds = SnapshotTable.filesTable(spark, root).select("content").collect()
      .map(_.getString(0)).toSet
    assert(!kinds.exists(_ != "data"),
      s"delete files still pending after materialization: $kinds")
    // logically silent in the changelog, like every replace
    if (vM > v4)
      assert(SnapshotTable.changelogBetween(spark, root, v4, vM).count() === 0)
    // and time travel still sees the pre-materialization states
    assert(SnapshotTable.read(spark, root, Some(v2)).count() === 2)
    assert(SnapshotTable.read(spark, root, Some(v3)).count() === 3)
  }
}
