package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Snapshot-manifest table layer — the Iceberg ACCESS PATTERN with no
 * Iceberg dependency (this sandbox ships no Iceberg jars; the north_rule
 * input is "an Iceberg table of source-code repositories"). One writer
 * and one reader: what a checkpointed validation run needs to plan and
 * resume partition by partition.
 *
 *  - **Metadata-driven scans**: the file list comes from a versioned
 *    manifest document, never from recursive directory listing — at
 *    10^12 files the object-store LIST call is the scan-planning
 *    bottleneck, which is the core reason table formats exist.
 *  - **Manifest-side pruning**: a partition predicate prunes whole FILES
 *    out of the scan before Spark ever sees a path. The pruned set is
 *    observable via `DataFrame.inputFiles` and pinned by spec.
 *  - **Snapshot isolation / time travel**: every commit writes data files
 *    into a fresh immutable snapshot directory, publishes `vN.json`, and
 *    atomically flips `version-hint.text`. Readers resolve the hint (or
 *    pin an explicit version) and then read only immutable state — a
 *    concurrent writer can never expose a half-written table, and any
 *    historical snapshot stays readable.
 *  - **A recorded schema**: every manifest records the table schema
 *    (data columns, then partition columns, with their types) and every
 *    read scans with it. Planning opens no file, a partition value reads
 *    back with its committed type (a string `"007"` stays `"007"` where
 *    directory-name inference would make it the int 7).
 *
 * Layout (mirrors Iceberg's metadata tree one level flatter):
 * {{{
 *   <root>/data/s<N>/<part>=.../...parquet   immutable data files
 *   <root>/metadata/v<N>.json                snapshot manifest
 *   <root>/metadata/version-hint.text        current-version pointer
 * }}}
 *
 * Iceberg mapping — an Iceberg DataSourceV2 binding would replace this
 * object call for call:
 * {{{
 *   currentVersion                  table.currentSnapshot().snapshotId()
 *   snapshot(version)               table.snapshot(id)
 *   commit(overwritePartitions)     writeTo(t).overwritePartitions() | append()
 *   read(version, partitionFilter)  VERSION AS OF v + manifest-pruned scan
 *   scan(snapshot, files)           a scan of planned FileScanTasks
 *   partitions                      the t.partitions metadata table
 * }}}
 * The partition spec and the table schema are fixed at the first commit;
 * schema evolution, row-level deletes, rewrites and snapshot expiry are
 * out of scope, and a manifest that carries delete entries or no recorded
 * schema is rejected rather than read wrongly. Versions are Ints here;
 * Iceberg snapshot ids are 64-bit.
 *
 * JSON rides Spark's own Jackson (no new dependency). Cited reference
 * behavior: the reference records per-file identity (MD5 + UUID,
 * Manifest.pm:219-224) — here generalized to per-snapshot lineage.
 */
object SnapshotTable {

  final case class FileEntry(path: String, partition: Map[String, String],
      bytes: Long)

  /** `schema` is the table schema: the data columns in declared order,
   * then the partition columns. */
  final case class Snapshot(version: Int, partitionCols: Seq[String],
      files: Seq[FileEntry], schema: StructType)

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // --- manifest I/O --------------------------------------------------------

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def manifestBytes(s: Snapshot): Array[Byte] = {
    val node = mapper.createObjectNode()
    node.put("version", s.version)
    val pc = node.putArray("partitionCols")
    s.partitionCols.foreach(pc.add)
    node.set[com.fasterxml.jackson.databind.JsonNode]("schema",
      mapper.readTree(s.schema.json))
    val fl = node.putArray("files")
    s.files.foreach { f =>
      val fn = fl.addObject()
      fn.put("path", f.path)
      fn.put("bytes", f.bytes)
      val pn = fn.putObject("partition")
      f.partition.foreach { case (k, v) => pn.put(k, v) }
    }
    mapper.writeValueAsBytes(node)
  }

  /** Write-then-rename one document under `metadata/`. `replace` swaps an
   * existing target atomically via FileContext's OVERWRITE rename —
   * FileSystem.rename returns false when the target exists, and
   * delete-then-rename would expose a window where a concurrent reader
   * sees no document at all (violating the isolation contract this layer
   * exists to provide). */
  private def writeMetadata(spark: SparkSession, root: String, name: String,
      bytes: Array[Byte], replace: Boolean = false): Unit = {
    val dir = new Path(root, "metadata")
    val f = fs(spark, dir)
    f.mkdirs(dir)
    val tmp = new Path(dir, s".$name.tmp")
    val out = f.create(tmp, true)
    out.write(bytes); out.close()
    val target = new Path(dir, name)
    if (replace)
      org.apache.hadoop.fs.FileContext.getFileContext(
        dir.toUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    else require(f.rename(tmp, target),
      s"manifest rename failed: $tmp -> $target (stale file from a crashed commit? remove it first)")
  }

  def currentVersion(spark: SparkSession, root: String): Option[Int] = {
    val hint = new Path(root, "metadata/version-hint.text")
    val f = fs(spark, hint)
    if (!f.exists(hint)) None
    else {
      val in = f.open(hint)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt)
      finally in.close()
    }
  }

  def snapshot(spark: SparkSession, root: String, version: Option[Int] = None): Snapshot = {
    val v = version.orElse(currentVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val p = new Path(root, s"metadata/v$v.json")
    require(fs(spark, p).exists(p), s"snapshot v$v does not exist under $root")
    readManifestFile(spark, p)
  }

  /** Parse one manifest document. A manifest this reader cannot honour
   * fails naming its file: pending delete entries would otherwise bring
   * deleted rows back, and without a recorded schema the partition
   * column types are unknown. */
  private def readManifestFile(spark: SparkSession, p: Path): Snapshot = {
    val f = fs(spark, p)
    val in = f.open(p)
    val node = try mapper.readTree(in) finally in.close()
    val deleteKinds = Seq("deletes", "eqDeletes")
      .filter(k => node.has(k) && node.get(k).size() > 0)
    if (deleteKinds.nonEmpty)
      throw new IllegalStateException(s"manifest $p carries " +
        s"${deleteKinds.mkString(" and ")} entries; this table reader " +
        "applies no deletes")
    if (!node.has("schema"))
      throw new IllegalStateException(
        s"manifest $p records no table schema; re-commit the table")
    val schema = DataType.fromJson(node.get("schema").toString)
      .asInstanceOf[StructType]
    val pcols = (0 until node.get("partitionCols").size())
      .map(node.get("partitionCols").get(_).asText())
    val files = (0 until node.get("files").size()).map { i =>
      val fn = node.get("files").get(i)
      FileEntry(fn.get("path").asText(),
        fn.get("partition").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap,
        fn.get("bytes").asLong())
    }
    Snapshot(node.get("version").asInt(), pcols, files, schema)
  }

  // --- commit --------------------------------------------------------------

  /**
   * Commit `df` as a new snapshot. `overwritePartitions = true` replaces
   * the manifest entries of every partition value present in `df` (the
   * Iceberg dynamic-overwrite shape CheckpointRunner's idempotent re-runs
   * need); `false` appends files to existing partitions. Data files land
   * in an immutable per-snapshot directory, so every previous snapshot
   * remains fully readable (time travel).
   *
   * The first commit fixes the partition spec and the table schema. A
   * later commit that changes the spec, or adds, drops or retypes a
   * column, fails naming the difference. The commit-time file enumeration
   * lists ONLY the freshly written `data/s<N>` subtree — bounded by this
   * commit's output; readers never list anything.
   */
  def commit(df: DataFrame, root: String, partitionCols: Seq[String],
      overwritePartitions: Boolean = true): Snapshot = {
    require(partitionCols.nonEmpty, "snapshot tables are partitioned")
    val spark = df.sparkSession
    val prev = currentVersion(spark, root).map(v => snapshot(spark, root, Some(v)))
    // nullable like every parquet read of the same columns
    val schema = StructType(
      (df.schema.filterNot(f => partitionCols.contains(f.name)) ++
        partitionCols.map(df.schema(_))).map(_.copy(nullable = true)))
    prev.foreach { s =>
      require(s.partitionCols == partitionCols,
        s"partition spec mismatch: table has ${s.partitionCols}, got $partitionCols")
      requireTableColumns(s.schema, schema)
    }
    val version = prev.map(_.version + 1).getOrElse(1)
    df.write.partitionBy(partitionCols: _*).parquet(s"$root/data/s$version")
    val written = listDelta(spark, root, version)
    val replaced: Set[Map[String, String]] =
      if (overwritePartitions) written.map(_.partition).toSet else Set.empty
    val carried = prev.toSeq.flatMap(_.files)
      .filterNot(fe => replaced.contains(fe.partition))
    val snap = Snapshot(version, partitionCols, carried ++ written,
      prev.fold(schema)(_.schema))
    // publish: the manifest first, then the hint flip
    writeMetadata(spark, root, s"v$version.json", manifestBytes(snap))
    writeMetadata(spark, root, "version-hint.text",
      version.toString.getBytes("UTF-8"), replace = true)
    snap
  }

  /** Schema governance: a commit carries exactly the table's columns with
   * their recorded types (column order may differ — parquet resolves by
   * name). Drift fails naming the columns: a type change would corrupt
   * the data silently, and the table schema never changes. */
  private def requireTableColumns(table: StructType, commit: StructType): Unit = {
    val was = table.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val now = commit.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val retyped = commit.fieldNames.collect {
      case n if was.get(n).exists(_ != now(n)) => s"$n: ${was(n)} -> ${now(n)}" }
    require(retyped.isEmpty,
      s"commit retypes table columns ${retyped.mkString(", ")}")
    val dropped = table.fieldNames.filterNot(now.contains)
    require(dropped.isEmpty,
      s"commit drops table columns ${dropped.mkString(", ")}")
    val added = commit.fieldNames.filterNot(was.contains)
    require(added.isEmpty,
      s"commit adds columns ${added.mkString(", ")} not in the table schema")
  }

  /** The parquet files a commit just wrote under `data/s<version>`, each
   * with its partition values (unescaped from the directory names with
   * the codec Spark's writer escaped them with) and its size. */
  private def listDelta(spark: SparkSession, root: String,
      version: Int): Seq[FileEntry] = {
    val base = new Path(s"$root/data/s$version")
    val f = fs(spark, base)
    val files = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    def walk(p: Path, part: Map[String, String]): Unit =
      f.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          val kv = name.split("=", 2)
          walk(st.getPath, if (kv.length == 2)
            part + (kv(0) -> ExternalCatalogUtils.unescapePathName(kv(1)))
          else part)
        } else if (name.endsWith(".parquet")) {
          files += FileEntry(st.getPath.toString, part, st.getLen)
        }
      }
    walk(base, Map.empty)
    files.toSeq
  }

  // --- read ----------------------------------------------------------------

  /**
   * Plan a scan from the manifest: resolve the snapshot (current or
   * pinned), prune files MANIFEST-SIDE by the partition predicate, and
   * hand Spark exactly the surviving file paths. No directory listing
   * happens on the read path; an empty survivor set still returns the
   * table schema.
   */
  def read(spark: SparkSession, root: String, version: Option[Int] = None,
      partitionFilter: Map[String, String] = Map.empty): DataFrame = {
    val snap = snapshot(spark, root, version)
    partitionFilter.keys.foreach(k => require(snap.partitionCols.contains(k),
      s"'$k' is not a partition column (spec: ${snap.partitionCols})"))
    scan(spark, snap, snap.files.filter(fe =>
      partitionFilter.forall { case (k, v) => fe.partition(k) == v }))
  }

  /** Scan `files` of `snap` with its recorded schema: the union of one
   * relation per snapshot subtree (its `basePath` reattaches the partition
   * columns, typed as recorded) and per as many files as a relation lists
   * without a Spark job. */
  def scan(spark: SparkSession, snap: Snapshot,
      files: Seq[FileEntry]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), snap.schema)
    else files.groupBy(fe => fe.path.replaceAll("(/data/s\\d+)/.*$", "$1")).toSeq
      .flatMap { case (basePath, fes) => fes.grouped(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold").toInt).map(basePath -> _) }
      .map { case (basePath, fes) =>
        spark.read.schema(snap.schema).option("basePath", basePath)
          .parquet(fes.map(_.path): _*)
      }.reduce(_.union(_))

  /** The distinct partition values of a snapshot — CheckpointRunner's
   * partition discovery from pure metadata (no listing, no scan). */
  def partitions(spark: SparkSession, root: String,
      version: Option[Int] = None): Seq[Map[String, String]] =
    snapshot(spark, root, version).files.map(_.partition).distinct
      .sortBy(_.toSeq.sortBy(_._1).map(t => s"${t._1}=${t._2}").mkString(","))
}
