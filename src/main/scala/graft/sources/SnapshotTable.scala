package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType,
  ShortType, StringType, StructField, StructType}

/**
 * Snapshot-manifest table layer — the Iceberg ACCESS PATTERN with no
 * Iceberg dependency (this sandbox ships no Iceberg jars; the north_rule
 * input is "an Iceberg table of source-code repositories"). One writer
 * and one reader: what a checkpointed validation run needs to plan and
 * resume partition by partition, plus the write-audit-publish, ref and
 * retention calls that govern a table's history.
 *
 *  - **Metadata-driven scans**: the file list comes from a versioned
 *    manifest document, never from recursive directory listing — at
 *    10^12 files the object-store LIST call is the scan-planning
 *    bottleneck, which is the core reason table formats exist.
 *  - **Manifest-side pruning**: a partition predicate prunes whole FILES
 *    out of the scan before Spark ever sees a path, and so does a range
 *    predicate on a column whose per-file min/max the commit recorded
 *    (`statsCols`). The pruned set is observable via
 *    `DataFrame.inputFiles` and pinned by spec.
 *  - **Snapshot isolation / time travel**: every commit writes data files
 *    into a fresh immutable snapshot directory, publishes `vN.json`, and
 *    atomically flips `version-hint.text`. Readers resolve the hint (or
 *    pin an explicit version) and then read only immutable state — a
 *    concurrent writer can never expose a half-written table, and any
 *    historical snapshot stays readable until it is expired.
 *  - **A recorded schema**: every manifest records the table schema
 *    (data columns, then partition columns, with their types) and every
 *    read scans with it. Planning opens no file, a partition value reads
 *    back with its committed type (a string `"007"` stays `"007"` where
 *    directory-name inference would make it the int 7), and a column
 *    added by explicit evolution reads back as NULL from older files.
 *
 * Layout (mirrors Iceberg's metadata tree one level flatter):
 * {{{
 *   <root>/data/s<N>/<part>=.../...parquet   immutable data files
 *   <root>/metadata/v<N>.json                snapshot manifest
 *   <root>/metadata/version-hint.text        current-version pointer
 *   <root>/metadata/staged.json              pending staged commit
 *   <root>/metadata/refs.json                named tags and branches
 * }}}
 *
 * Iceberg mapping — an Iceberg DataSourceV2 binding would replace this
 * object call for call:
 * {{{
 *   currentVersion                  table.currentSnapshot().snapshotId()
 *   snapshot(version)               table.snapshot(id)
 *   commit(overwritePartitions)     writeTo(t).overwritePartitions() | append()
 *   commit(allowSchemaEvolution)    ALTER TABLE ADD COLUMN + write
 *   read(version, filters)          VERSION AS OF v + manifest-pruned scan
 *   changesBetween(a, b)            incremental append scan (start/end-snapshot-id)
 *   partitions                      the t.partitions metadata table
 *   stageCommit / publishStaged     write-audit-publish (wap.id + cherrypick)
 *   tagSnapshot / createBranch      ALTER TABLE CREATE TAG / BRANCH
 *   expireSnapshots                 CALL expire_snapshots(...)
 *   removeOrphanFiles               CALL remove_orphan_files(...)
 * }}}
 * The partition spec is fixed at the first commit and columns only ever
 * get added; row-level deletes and rewrites are out of scope, and a
 * manifest that carries delete entries or no recorded schema is rejected
 * rather than read wrongly. Versions are Ints here; Iceberg snapshot ids
 * are 64-bit.
 *
 * JSON rides Spark's own Jackson (no new dependency). Cited reference
 * behavior: the reference records per-file identity (MD5 + UUID,
 * Manifest.pm:219-224) — here generalized to per-snapshot lineage.
 */
object SnapshotTable {

  /** `stats` are per-column (min, max) bounds for the table's stats
   * columns, as strings compared by the column's stats kind. */
  final case class FileEntry(path: String, partition: Map[String, String],
      bytes: Long, stats: Map[String, (String, String)] = Map.empty)

  /** `schema` is the table schema as of this snapshot: the data columns
   * in declared order, then the partition columns. `statsKinds` maps each
   * stats column to how its bounds compare ("long" or "string"). */
  final case class Snapshot(version: Int, partitionCols: Seq[String],
      files: Seq[FileEntry], schema: StructType,
      statsKinds: Map[String, String] = Map.empty) {
    /** The data columns (partition columns excluded) with catalog types. */
    def columns: Seq[(String, String)] = schema.fields.toSeq
      .filterNot(f => partitionCols.contains(f.name))
      .map(f => f.name -> f.dataType.catalogString)
  }

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Inverse of Hive-style partition-path escaping: pure %XX unescape.
   * NOT URLDecoder — that would also turn '+' into a space, corrupting
   * values like "c++" that Hive never escapes on the way out. */
  private def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hi = Character.digit(s.charAt(i + 1), 16)
        val lo = Character.digit(s.charAt(i + 2), 16)
        if (hi >= 0 && lo >= 0) { sb.append(((hi << 4) | lo).toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // --- manifest I/O --------------------------------------------------------

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def manifestBytes(s: Snapshot): Array[Byte] = {
    val node = mapper.createObjectNode()
    node.put("version", s.version)
    val pc = node.putArray("partitionCols")
    s.partitionCols.foreach(pc.add)
    node.set[com.fasterxml.jackson.databind.JsonNode]("schema",
      mapper.readTree(s.schema.json))
    if (s.statsKinds.nonEmpty) {
      val kn = node.putObject("statsKinds")
      s.statsKinds.foreach { case (k, v) => kn.put(k, v) }
    }
    val fl = node.putArray("files")
    s.files.foreach { f =>
      val fn = fl.addObject()
      fn.put("path", f.path)
      fn.put("bytes", f.bytes)
      val pn = fn.putObject("partition")
      f.partition.foreach { case (k, v) => pn.put(k, v) }
      if (f.stats.nonEmpty) {
        val sn = fn.putObject("stats")
        f.stats.foreach { case (c, (lo, hi)) =>
          val cn = sn.putObject(c); cn.put("min", lo); cn.put("max", hi)
        }
      }
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

  /** Publish `s`: write its manifest, then flip the hint. */
  private def writeManifest(spark: SparkSession, root: String, s: Snapshot): Unit = {
    writeMetadata(spark, root, s"v${s.version}.json", manifestBytes(s))
    writeMetadata(spark, root, "version-hint.text",
      s.version.toString.getBytes("UTF-8"), replace = true)
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

  private def fieldMap(node: com.fasterxml.jackson.databind.JsonNode,
      key: String): Map[String, com.fasterxml.jackson.databind.JsonNode] =
    if (!node.has(key)) Map.empty
    else node.get(key).properties().asScala.map(e => e.getKey -> e.getValue).toMap

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
        fieldMap(fn, "partition").map { case (k, v) => k -> v.asText() },
        fn.get("bytes").asLong(),
        fieldMap(fn, "stats").map { case (c, b) =>
          c -> ((b.get("min").asText(), b.get("max").asText())) })
    }
    Snapshot(node.get("version").asInt(), pcols, files, schema,
      fieldMap(node, "statsKinds").map { case (k, v) => k -> v.asText() })
  }

  // --- commit --------------------------------------------------------------

  /**
   * Commit `df` as a new snapshot. `overwritePartitions = true` replaces
   * the manifest entries of every partition value present in `df` (the
   * Iceberg dynamic-overwrite shape CheckpointRunner's idempotent re-runs
   * need); `false` appends files to existing partitions. Data files land
   * in an immutable per-snapshot directory, so every previous snapshot
   * remains fully readable (time travel) until [[expireSnapshots]].
   *
   * `statsCols` (integral or string data columns) records each new file's
   * min/max for them — ONE aggregate over this commit's own output — so
   * [[read]]'s `rangeFilter` can skip files. A later commit without
   * `statsCols` keeps the table's stats kinds; its files carry no bounds
   * and are never skipped.
   *
   * The first commit fixes the partition spec and the table schema. A
   * later commit that changes the spec, drops or retypes a column fails
   * naming the difference; one that adds a column fails too unless
   * `allowSchemaEvolution`, which appends the new columns to the schema
   * (older files read them as NULL). The commit-time file enumeration
   * lists ONLY the freshly written `data/s<N>` subtree — bounded by this
   * commit's output; readers never list anything.
   */
  def commit(df: DataFrame, root: String, partitionCols: Seq[String],
      overwritePartitions: Boolean = true,
      statsCols: Seq[String] = Seq.empty,
      allowSchemaEvolution: Boolean = false): Snapshot = {
    val snap = writeSnapshot(df, root, partitionCols, overwritePartitions,
      statsCols, allowSchemaEvolution)
    writeManifest(df.sparkSession, root, snap)
    snap
  }

  /** Write `df`'s data files as the next version and return the snapshot
   * that would publish them; the caller decides where its manifest goes. */
  private def writeSnapshot(df: DataFrame, root: String,
      partitionCols: Seq[String], overwritePartitions: Boolean,
      statsCols: Seq[String], allowSchemaEvolution: Boolean): Snapshot = {
    require(partitionCols.nonEmpty, "snapshot tables are partitioned")
    val spark = df.sparkSession
    requireNoPendingStage(spark, root)
    val kinds = statsCols.map { c =>
      require(!partitionCols.contains(c),
        s"stats column '$c' is a partition column — partition pruning already covers it")
      require(df.columns.contains(c), s"stats column '$c' not in the frame")
      c -> (df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => "long"
        case StringType => "string"
        case dt => throw new IllegalArgumentException(
          s"stats column '$c' must be integral or string, got ${dt.simpleString}")
      })
    }.toMap
    val prev = currentVersion(spark, root).map(v => snapshot(spark, root, Some(v)))
    // nullable like every parquet read of the same columns
    val schema = StructType(
      (df.schema.filterNot(f => partitionCols.contains(f.name)) ++
        partitionCols.map(df.schema(_))).map(_.copy(nullable = true)))
    val tableSchema = prev.fold(schema) { s =>
      require(s.partitionCols == partitionCols,
        s"partition spec mismatch: table has ${s.partitionCols}, got $partitionCols")
      require(s.statsKinds.isEmpty || kinds.isEmpty || s.statsKinds == kinds,
        s"stats spec mismatch: table has ${s.statsKinds}, got $kinds")
      evolve(s.schema, schema, partitionCols, allowSchemaEvolution)
    }
    val version = prev.map(_.version + 1).getOrElse(1)
    df.write.partitionBy(partitionCols: _*).parquet(s"$root/data/s$version")
    val written = withStats(spark, root, version,
      listDelta(spark, root, version), statsCols)
    val replaced: Set[Map[String, String]] =
      if (overwritePartitions) written.map(_.partition).toSet else Set.empty
    val carried = prev.toSeq.flatMap(_.files)
      .filterNot(fe => replaced.contains(fe.partition))
    Snapshot(version, partitionCols, carried ++ written, tableSchema,
      if (kinds.nonEmpty) kinds else prev.fold(Map.empty[String, String])(_.statsKinds))
  }

  /** Schema governance: a commit carries the table's columns with their
   * recorded types (column order may differ — parquet resolves by name).
   * Drift is an error; evolution is explicit and additive only — the
   * added columns go after the table's data columns. Type changes are
   * never evolution (silent data corruption). */
  private def evolve(table: StructType, commit: StructType,
      partitionCols: Seq[String], allowSchemaEvolution: Boolean): StructType = {
    val was = table.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val now = commit.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val retyped = commit.fieldNames.collect {
      case n if was.get(n).exists(_ != now(n)) => s"$n: ${was(n)} -> ${now(n)}" }
    require(retyped.isEmpty,
      s"column type change is not schema evolution: ${retyped.mkString(", ")}")
    val dropped = table.fieldNames.filterNot(now.contains)
    require(dropped.isEmpty,
      s"commit drops table columns ${dropped.mkString(", ")} — evolution is additive only")
    val added = commit.fields.filterNot(f => was.contains(f.name))
    require(added.isEmpty || allowSchemaEvolution,
      s"commit adds columns ${added.map(_.name).mkString(", ")} not in the " +
        "table schema; pass allowSchemaEvolution = true to evolve the table")
    val (parts, data) = table.fields.partition(f => partitionCols.contains(f.name))
    StructType(data ++ added ++ parts)
  }

  /** The parquet files a commit just wrote under `data/s<version>`, each
   * with its partition values (unescaped from the directory names) and
   * its size. */
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
          walk(st.getPath,
            if (kv.length == 2) part + (kv(0) -> unescapePathName(kv(1))) else part)
        } else if (name.endsWith(".parquet")) {
          files += FileEntry(st.getPath.toString, part, st.getLen)
        }
      }
    walk(base, Map.empty)
    files.toSeq
  }

  /** Attach per-file min/max bounds of `statsCols` to a commit's new
   * files: one aggregate over `data/s<version>` grouped by file. Keyed by
   * the path relative to that directory (partition dirs + name), because
   * a writer task that covers two partitions emits the same file name in
   * both directories, and merging those bounds would widen every
   * interval. A file whose bounds are unknown (all NULL) gets none. */
  private def withStats(spark: SparkSession, root: String, version: Int,
      files: Seq[FileEntry], statsCols: Seq[String]): Seq[FileEntry] = {
    if (statsCols.isEmpty || files.isEmpty) return files
    import org.apache.spark.sql.functions.{col, max, min, regexp_extract}
    val marker = s"/data/s$version/"
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__lo_$c"),
      max(col(c)).cast("string").as(s"__hi_$c")))
    val bounds = spark.read.parquet(s"$root/data/s$version")
      .groupBy(regexp_extract(col("_metadata.file_path"),
        java.util.regex.Pattern.quote(marker) + "(.*)$", 1))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        r.getString(0) -> statsCols.flatMap { c =>
          val lo = r.getAs[String](s"__lo_$c")
          val hi = r.getAs[String](s"__hi_$c")
          if (lo == null || hi == null) None else Some(c -> ((lo, hi)))
        }.toMap
      }.toMap
    files.map(fe => fe.copy(stats = bounds.getOrElse(
      fe.path.substring(fe.path.indexOf(marker) + marker.length), Map.empty)))
  }

  // --- write-audit-publish (staged commits) ---------------------------------

  private def stagedPath(root: String) = new Path(root, "metadata/staged.json")

  /** Guard on every writer: a pending stage owns the next version number,
   * so an interleaved commit would collide with its data subtree and
   * manifest version. Resolve the stage first. */
  private def requireNoPendingStage(spark: SparkSession, root: String): Unit = {
    val p = stagedPath(root)
    require(!fs(spark, p).exists(p),
      s"table $root has a pending staged commit — publishStaged or abortStaged it first")
  }

  /**
   * Stage a commit without publishing it — the Iceberg write-audit-publish
   * (WAP) pattern a validation engine exists to drive: write the next
   * snapshot's data files and complete manifest, but to
   * `metadata/staged.json` instead of the version chain, so no reader sees
   * the rows until an audit passes. [[commit]]'s semantics otherwise. The
   * stage owns version N+1: every writer fails fast until
   * [[publishStaged]] promotes it (metadata only — the data is in place)
   * or [[abortStaged]] discards it.
   */
  def stageCommit(df: DataFrame, root: String, partitionCols: Seq[String],
      overwritePartitions: Boolean = true): Snapshot = {
    val snap = writeSnapshot(df, root, partitionCols, overwritePartitions,
      Seq.empty, allowSchemaEvolution = false)
    writeMetadata(df.sparkSession, root, "staged.json", manifestBytes(snap))
    snap
  }

  /** The pending staged snapshot, if any. */
  def stagedSnapshot(spark: SparkSession, root: String): Option[Snapshot] = {
    val p = stagedPath(root)
    if (!fs(spark, p).exists(p)) None else Some(readManifestFile(spark, p))
  }

  private def requireStaged(spark: SparkSession, root: String): Snapshot =
    stagedSnapshot(spark, root).getOrElse(
      throw new IllegalStateException(s"no staged commit under $root"))

  /** Read the table AS IF the pending stage were published — what the
   * audit step validates. Same manifest-side pruning as [[read]]. */
  def readStaged(spark: SparkSession, root: String,
      partitionFilter: Map[String, String] = Map.empty): DataFrame =
    plan(spark, requireStaged(spark, root), partitionFilter, Map.empty)

  /** Promote the pending stage into the version chain: publish its
   * manifest, flip the hint, drop the stage marker. */
  def publishStaged(spark: SparkSession, root: String): Snapshot = {
    val snap = requireStaged(spark, root)
    val cur = currentVersion(spark, root).getOrElse(0)
    require(snap.version == cur + 1,
      s"staged snapshot v${snap.version} does not follow current v$cur — " +
        "the version chain moved underneath the stage")
    writeManifest(spark, root, snap)
    fs(spark, stagedPath(root)).delete(stagedPath(root), false)
    snap
  }

  /** Discard the pending stage: delete its never-published data subtree
   * and the stage marker. Files it carried from published snapshots are
   * untouched, and its version number is free again. */
  def abortStaged(spark: SparkSession, root: String): Unit = {
    val snap = requireStaged(spark, root)
    val dataDir = new Path(root, s"data/s${snap.version}")
    val f = fs(spark, dataDir)
    if (f.exists(dataDir)) f.delete(dataDir, true)
    f.delete(stagedPath(root), false)
  }

  /** The WAP loop in one call: stage `df`, run `audit` over the staged
   * table view (the FULL table as it would look published), publish on
   * `None`, abort on `Some(reason)`. An audit that THROWS leaves the stage
   * pending for inspection — an exception is a bug in the audit, not a
   * verdict. */
  def auditedCommit(df: DataFrame, root: String, partitionCols: Seq[String],
      audit: DataFrame => Option[String],
      overwritePartitions: Boolean = true): Either[String, Snapshot] = {
    val spark = df.sparkSession
    stageCommit(df, root, partitionCols, overwritePartitions)
    audit(readStaged(spark, root)) match {
      case None => Right(publishStaged(spark, root))
      case Some(reason) => abortStaged(spark, root); Left(reason)
    }
  }

  // --- named refs: tags and branches --------------------------------------

  /** A named pointer into the version chain — the Iceberg `SnapshotRef`:
   * tags are immutable, branches move forward. */
  case class Ref(kind: String, version: Int) {
    require(kind == "tag" || kind == "branch", s"unknown ref kind '$kind'")
  }

  private val refNameRe = "[A-Za-z0-9][A-Za-z0-9._-]*".r

  /** All named refs on the table (empty when none were ever created). */
  def refs(spark: SparkSession, root: String): Map[String, Ref] = {
    val p = new Path(root, "metadata/refs.json")
    val f = fs(spark, p)
    if (!f.exists(p)) return Map.empty
    val in = f.open(p)
    val node = try mapper.readTree(in) finally in.close()
    node.properties().asScala.map(e => e.getKey ->
      Ref(e.getValue.get("type").asText(), e.getValue.get("version").asInt())).toMap
  }

  private def writeRefs(spark: SparkSession, root: String,
      all: Map[String, Ref]): Unit = {
    val node = mapper.createObjectNode()
    all.toSeq.sortBy(_._1).foreach { case (n, r) =>
      val rn = node.putObject(n)
      rn.put("type", r.kind); rn.put("version", r.version)
    }
    writeMetadata(spark, root, "refs.json", mapper.writeValueAsBytes(node),
      replace = true)
  }

  private def targetVersion(spark: SparkSession, root: String,
      version: Option[Int]): Int = {
    val v = version.getOrElse(currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root")))
    // a missing or expired target fails with the ordinary snapshot error
    snapshot(spark, root, Some(v))
    v
  }

  private def createRef(spark: SparkSession, root: String, name: String,
      kind: String, version: Option[Int]): Ref = {
    require(refNameRe.matches(name), s"invalid ref name '$name'")
    val r = Ref(kind, targetVersion(spark, root, version))
    val all = refs(spark, root)
    require(!all.contains(name),
      s"ref '$name' already exists (${all(name).kind} at v${all(name).version})")
    writeRefs(spark, root, all + (name -> r))
    r
  }

  /** Create an IMMUTABLE tag at `version` (default: current). */
  def tagSnapshot(spark: SparkSession, root: String, name: String,
      version: Option[Int] = None): Ref =
    createRef(spark, root, name, "tag", version)

  /** Create a branch head at `version` (default: current). History is one
   * linear chain, so a branch only advances by [[fastForwardBranch]]. */
  def createBranch(spark: SparkSession, root: String, name: String,
      version: Option[Int] = None): Ref =
    createRef(spark, root, name, "branch", version)

  /** Advance a branch head to `toVersion` (default: current). Forward
   * only: moving a head back would unpin history that [[expireSnapshots]]
   * may already have relied on it pinning. */
  def fastForwardBranch(spark: SparkSession, root: String, name: String,
      toVersion: Option[Int] = None): Ref = {
    val all = refs(spark, root)
    val cur = all.getOrElse(name,
      throw new IllegalArgumentException(s"no ref named '$name'"))
    require(cur.kind == "branch", s"ref '$name' is a ${cur.kind}, not a branch")
    val v = targetVersion(spark, root, toVersion)
    require(v >= cur.version,
      s"fast-forward only: branch '$name' is at v${cur.version}, target v$v")
    val r = cur.copy(version = v)
    writeRefs(spark, root, all + (name -> r))
    r
  }

  /** Remove a tag or branch. The snapshot it pinned becomes expirable. */
  def dropRef(spark: SparkSession, root: String, name: String): Unit = {
    val all = refs(spark, root)
    require(all.contains(name), s"no ref named '$name'")
    writeRefs(spark, root, all - name)
  }

  /** Resolve a ref name to its pinned version. */
  def refVersion(spark: SparkSession, root: String, name: String): Int =
    refs(spark, root).getOrElse(name,
      throw new IllegalArgumentException(s"no ref named '$name'")).version

  /** Read the table at a named ref — `VERSION AS OF 'tag'`. */
  def readRef(spark: SparkSession, root: String, name: String,
      partitionFilter: Map[String, String] = Map.empty): DataFrame =
    read(spark, root, Some(refVersion(spark, root, name)), partitionFilter)

  /** Iceberg's `refs` metadata table: one row per ref, sorted by name. */
  def refsTable(spark: SparkSession, root: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    val rows = refs(spark, root).toSeq.sortBy(_._1)
      .map { case (n, r) => Row(n, r.kind, r.version.toLong) }
    spark.createDataFrame(rows.asJava, schema)
  }

  // --- retention -----------------------------------------------------------

  /**
   * Expire every snapshot older than the newest `keepLast` and delete the
   * data files ONLY those expired snapshots reference — metadata-only set
   * arithmetic, no listing. Versions pinned by a ref are never expired
   * (pin a release; expiration cannot eat it). Time travel to an expired
   * version fails with the ordinary missing-snapshot error. Returns the
   * expired versions.
   */
  def expireSnapshots(spark: SparkSession, root: String,
      keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val current = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val cutoff = current - keepLast + 1
    val pinned = refs(spark, root).values.map(_.version).toSet
    val f = fs(spark, new Path(root))
    def exists(v: Int) = f.exists(new Path(root, s"metadata/v$v.json"))
    val expired = (1 until cutoff).filterNot(pinned.contains).filter(exists)
    if (expired.isEmpty) return Seq.empty
    val live: Set[String] = ((cutoff to current) ++ pinned.filter(_ < cutoff))
      .filter(exists)
      .flatMap(v => snapshot(spark, root, Some(v)).files.map(_.path)).toSet
    expired.foreach { v =>
      snapshot(spark, root, Some(v)).files.map(_.path).filterNot(live.contains)
        .foreach(p => f.delete(new Path(p), false))
      f.delete(new Path(root, s"metadata/v$v.json"), false)
    }
    expired
  }

  /**
   * Delete files under `<root>/data/` that NO manifest references — the
   * Iceberg `remove_orphan_files` analog for what [[expireSnapshots]]
   * cannot see: a commit that crashed after writing data files but
   * before its manifest landed. The one operation that lists the data
   * tree. Every `v<N>.json` and a pending stage count as references;
   * files younger than `olderThanMs` are kept anyway so a commit racing
   * this cleanup keeps its data. Empty directories left behind are
   * pruned. Returns the deleted paths.
   */
  def removeOrphanFiles(spark: SparkSession, root: String,
      olderThanMs: Long = 3L * 24 * 3600 * 1000): Seq[String] = {
    val dataRoot = new Path(root, "data")
    val f = fs(spark, dataRoot)
    if (!f.exists(dataRoot)) return Seq.empty
    val metaDir = new Path(root, "metadata")
    val manifests =
      if (!f.exists(metaDir)) Seq.empty
      else f.listStatus(metaDir).toSeq.map(_.getPath)
        .filter(_.getName.matches("v\\d+\\.json"))
        .map(readManifestFile(spark, _))
    val referenced = (manifests ++ stagedSnapshot(spark, root))
      .flatMap(_.files.map(fe => new Path(fe.path).toUri.getPath)).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    def sweep(dir: Path): Boolean = { // returns "directory is now empty"
      var empty = true
      f.listStatus(dir).foreach { st =>
        if (st.isDirectory) {
          if (sweep(st.getPath)) f.delete(st.getPath, false) else empty = false
        } else if (!referenced.contains(st.getPath.toUri.getPath) &&
            st.getModificationTime < cutoff) {
          f.delete(st.getPath, false)
          deleted += st.getPath.toString
        } else empty = false
      }
      empty
    }
    sweep(dataRoot)
    deleted.toSeq
  }

  // --- read ----------------------------------------------------------------

  /**
   * Plan a scan from the manifest: resolve the snapshot (current or
   * pinned), prune files MANIFEST-SIDE by the partition predicate and by
   * `rangeFilter` (column -> inclusive (lo, hi) on a stats column), and
   * hand Spark exactly the surviving file paths. Range pruning only
   * narrows the file set: apply the row predicate to the result. No
   * directory listing happens on the read path; an empty survivor set
   * still returns the table schema.
   */
  def read(spark: SparkSession, root: String, version: Option[Int] = None,
      partitionFilter: Map[String, String] = Map.empty,
      rangeFilter: Map[String, (String, String)] = Map.empty): DataFrame =
    plan(spark, snapshot(spark, root, version), partitionFilter, rangeFilter)

  private def plan(spark: SparkSession, snap: Snapshot,
      partitionFilter: Map[String, String],
      rangeFilter: Map[String, (String, String)]): DataFrame = {
    partitionFilter.keys.foreach(k => require(snap.partitionCols.contains(k),
      s"'$k' is not a partition column (spec: ${snap.partitionCols})"))
    rangeFilter.keys.foreach(c => require(snap.statsKinds.contains(c),
      s"no committed stats for column '$c' (statsKinds: ${snap.statsKinds.keySet})"))
    scan(spark, snap, snap.files.filter(fe =>
      partitionFilter.forall { case (k, v) => fe.partition(k) == v } &&
        rangeFilter.forall { case (c, (lo, hi)) =>
          fe.stats.get(c).forall { case (fLo, fHi) =>
            if (snap.statsKinds(c) == "long") fHi.toLong >= lo.toLong && fLo.toLong <= hi.toLong
            else fHi >= lo && fLo <= hi
          }
        }))
  }

  /**
   * Incremental scan: read exactly the files ADDED between two snapshot
   * versions — the Iceberg incremental-read pattern that lets a
   * validation pass process only a snapshot delta instead of re-scanning
   * the table. Data files are immutable and no commit rewrites them, so
   * the file-path set difference IS the change set; under a
   * dynamic-partition overwrite the rewritten partitions' new files
   * appear here. Rows read with `toVersion`'s schema. `from == to` (or
   * nothing added) returns an empty frame with the table schema.
   */
  def changesBetween(spark: SparkSession, root: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val before = snapshot(spark, root, Some(fromVersion)).files.map(_.path).toSet
    val to = snapshot(spark, root, Some(toVersion))
    scan(spark, to, to.files.filterNot(fe => before.contains(fe.path)))
  }

  /** Scan `files` with the snapshot's recorded schema, one relation per
   * snapshot subtree (its `basePath` reattaches the partition columns,
   * typed as recorded) and the union of those. */
  private def scan(spark: SparkSession, snap: Snapshot,
      files: Seq[FileEntry]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), snap.schema)
    else files.groupBy(fe => fe.path.replaceAll("(/data/s\\d+)/.*$", "$1"))
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
