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
}
