package graft

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/**
 * Conformance suite for [[graft.sources.SnapshotTable]]'s table-format
 * contract — the Iceberg-shaped surface (commit, time travel, pruned and
 * incremental scans, metadata-only partitions) the checkpoint runner
 * relies on. An Iceberg DSv2 replacement would have to pass these same
 * cases.
 */
class TableFormatSpec extends SparkSuite {
  import spark.implicits._

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
    // metadata-only partition discovery
    assert(SnapshotTable.partitions(spark, root).map(_("source")).sorted
      === Seq("src0", "src1"))
  }
}
