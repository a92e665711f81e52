package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/**
 * Snapshot-manifest table layer — the Iceberg ACCESS PATTERN with no
 * Iceberg dependency (this sandbox ships no Iceberg jars; the north_rule
 * input is "an Iceberg table of source-code repositories"). What is
 * reproduced is exactly the set of behaviors that matter for planning at
 * 10^12 files:
 *
 *  - **Metadata-driven scans**: the file list comes from a versioned
 *    manifest document, never from recursive directory listing — at
 *    10^12 files the object-store LIST call is the scan-planning
 *    bottleneck, which is the core reason table formats exist.
 *  - **File-level data skipping**: `commit(statsCols = ...)` records
 *    per-file min/max column bounds in the manifest (ONE aggregate over
 *    the commit's own delta — the Iceberg manifest-stats shape), and
 *    `read(rangeFilter = ...)` drops every file whose [min,max] interval
 *    misses the requested range before Spark plans a byte of I/O. The
 *    residual row-level predicate stays the caller's ordinary `.filter`
 *    (which parquet pushdown then applies within surviving files).
 *  - **Manifest-side partition pruning**: a partition predicate prunes
 *    whole FILES out of the scan before Spark ever sees a path
 *    (complementing parquet footer/row-group pruning below it). The
 *    pruned set is observable via `DataFrame.inputFiles` and pinned by
 *    spec.
 *  - **Snapshot isolation / time travel**: every commit writes data files
 *    into a fresh immutable snapshot directory, publishes `vN.json`, and
 *    atomically flips `version-hint.text`. Readers resolve the hint (or
 *    pin an explicit version) and then read only immutable state — a
 *    concurrent writer can never expose a half-written table, and any
 *    historical snapshot stays readable.
 *
 * Layout (mirrors Iceberg's metadata tree one level flatter):
 * {{{
 *   <root>/data/s<N>/<part>=.../...parquet   immutable data files
 *   <root>/metadata/v<N>.json                snapshot manifest
 *   <root>/metadata/version-hint.text        current-version pointer
 * }}}
 *
 * Iceberg mapping — the reason each method has the shape it has; an
 * Iceberg DataSourceV2 binding would replace this object call for call:
 * {{{
 *   currentVersion                table.currentSnapshot().snapshotId()
 *   commit(overwritePartitions)   writeTo(t).overwritePartitions() | append()
 *   commit(bloomCols)             write.parquet.bloom-filter-enabled.column.<c>
 *   read(version, filters)        VERSION AS OF v + .filter (manifest pruning)
 *   changesBetween(a, b)          incremental append scan (start/end-snapshot-id)
 *   changelogBetween(a, b)        CALL create_changelog_view(...)
 *   partitions                    the t.partitions metadata table
 *   deleteWhere / merge           DELETE FROM / MERGE INTO, copy-on-write
 *   deleteWhereMoR                v2 position deletes (merge-on-read)
 *   deleteByKeysMoR               v2 equality deletes
 *   materializeDeletes            CALL rewrite_position_delete_files(...)
 *   filesTable / snapshotsTable   the t.files / t.snapshots metadata tables
 *   compact / expireSnapshots     CALL rewrite_data_files / expire_snapshots
 * }}}
 * Incremental scans skip `replace` snapshots, and a row-level rewrite
 * re-delivers its survivors (at-least-once), as Iceberg's do. Versions
 * are Ints here; Iceberg snapshot ids are 64-bit.
 *
 * JSON rides Spark's own Jackson (no new dependency). Cited reference
 * behavior: the reference records per-file identity (MD5 + UUID,
 * Manifest.pm:219-224) — here generalized to per-snapshot lineage.
 */
object SnapshotTable {

  /** `stats` are per-column (min, max) bounds; `blooms` are per-column
   * base64 Bloom filters over the column's xxhash64 values — the
   * point-lookup complement to range stats (a high-cardinality identity
   * column's [min,max] spans the domain in every file, so equality
   * probes prune nothing without one). A column may carry either, both
   * or neither per file. */
  final case class FileEntry(path: String, partition: Map[String, String],
      rows: Long, bytes: Long,
      stats: Map[String, (String, String)] = Map.empty,
      blooms: Map[String, String] = Map.empty)

  /** One merge-on-read DELETE commit's position-delete files — the
   * Iceberg v2 position-delete shape: `paths` are parquet files of
   * `(__suffix: string, __pos: long)` rows naming doomed positions in
   * still-live data files; `targets` maps each targeted data file's
   * snapshot-relative suffix to the number of rows deleted from it
   * (what keeps [[rowCount]] metadata-only under MoR deletes). Entries
   * shrink as CoW writers rewrite their targets and vanish when no
   * target is live. */
  final case class DeleteEntry(paths: Seq[String], targets: Map[String, Long])

  /** One merge-on-read key-based DELETE commit's equality-delete files —
   * the Iceberg v2 equality-delete shape: `paths` are parquet files of
   * doomed key tuples (columns = `keyCols`), applying to every row of a
   * data file written BEFORE the delete (file sequence < `version` — the
   * sequence-number rule that lets a later re-insert of the same key
   * survive). `rows` is the key count and `bytes` the delete files'
   * on-disk parquet size (0 in pre-round-5 manifests — readers fall back
   * to a per-row width estimate). Committing one reads NOTHING —
   * the streaming-CDC ingest shape; the cost moves to the read side
   * until [[materializeDeletes]] folds it. */
  final case class EqDeleteEntry(paths: Seq[String], keyCols: Seq[String],
      version: Int, rows: Long, bytes: Long = 0L)

  /** `operation` is the Iceberg snapshot-summary operation kind:
   * "write" (append / dynamic overwrite — the data-changing commits) or
   * "replace" (a [[compact]] rewrite — logically a no-op). Incremental
   * scans use it to skip rewrite snapshots ([[changesBetween]]); absent
   * in pre-round-4 manifests, which read back as "write".
   *
   * `columns` is the snapshot's logical DATA-column schema — (name,
   * catalog type string) in declared order, partition columns excluded
   * (they live in `partitionCols` and materialize from directory names
   * at read). Recorded at commit since round 4; empty for older
   * manifests, which keep the pre-evolution strict-union read path.
   * Time travel sees each version's OWN schema, as in Iceberg. */
  final case class Snapshot(version: Int, partitionCols: Seq[String],
      files: Seq[FileEntry],
      statsKinds: Map[String, String] = Map.empty,
      operation: String = "write",
      columns: Seq[(String, String)] = Seq.empty,
      deletes: Seq[DeleteEntry] = Seq.empty,
      eqDeletes: Seq[EqDeleteEntry] = Seq.empty,
      bloomKinds: Map[String, String] = Map.empty,
      // catalog types of every column that is (or ever was) a partition
      // column — the read path casts directory-inferred values to these so
      // mixed-spec subtrees union losslessly after a partition-spec
      // evolution; empty for pre-evolution manifests (single spec, the
      // union is trivially consistent)
      partitionColTypes: Map[String, String] = Map.empty)

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Inverse of Hive-style partition-path escaping: pure %XX unescape.
   * NOT URLDecoder — that would also turn '+' into a space, corrupting
   * values like "c++" that Hive never escapes on the way out. */
  private[sources] def unescapePathName(s: String): String = {
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
    node.put("operation", s.operation)
    val pc = node.putArray("partitionCols")
    s.partitionCols.foreach(pc.add)
    if (s.columns.nonEmpty) {
      val cn = node.putArray("columns")
      s.columns.foreach { case (n, t) =>
        val c = cn.addObject(); c.put("name", n); c.put("type", t)
      }
    }
    if (s.statsKinds.nonEmpty) {
      val kn = node.putObject("statsKinds")
      s.statsKinds.foreach { case (k, v) => kn.put(k, v) }
    }
    if (s.bloomKinds.nonEmpty) {
      val bn = node.putObject("bloomKinds")
      s.bloomKinds.foreach { case (k, v) => bn.put(k, v) }
    }
    if (s.partitionColTypes.nonEmpty) {
      val pn = node.putObject("partitionColTypes")
      s.partitionColTypes.foreach { case (k, v) => pn.put(k, v) }
    }
    val fl = node.putArray("files")
    s.files.foreach { f =>
      val fn = fl.addObject()
      fn.put("path", f.path)
      fn.put("rows", f.rows)
      fn.put("bytes", f.bytes)
      val pn = fn.putObject("partition")
      f.partition.foreach { case (k, v) => pn.put(k, v) }
      if (f.stats.nonEmpty) {
        val sn = fn.putObject("stats")
        f.stats.foreach { case (c, (lo, hi)) =>
          val cn = sn.putObject(c); cn.put("min", lo); cn.put("max", hi)
        }
      }
      if (f.blooms.nonEmpty) {
        val bn = fn.putObject("blooms")
        f.blooms.foreach { case (c, b64) => bn.put(c, b64) }
      }
    }
    if (s.deletes.nonEmpty) {
      val dl = node.putArray("deletes")
      s.deletes.foreach { d =>
        val dn = dl.addObject()
        val pn = dn.putArray("paths"); d.paths.foreach(pn.add)
        val tn = dn.putObject("targets")
        d.targets.foreach { case (suf, n) => tn.put(suf, n) }
      }
    }
    if (s.eqDeletes.nonEmpty) {
      val el = node.putArray("eqDeletes")
      s.eqDeletes.foreach { e =>
        val en = el.addObject()
        val pn = en.putArray("paths"); e.paths.foreach(pn.add)
        val kn = en.putArray("keyCols"); e.keyCols.foreach(kn.add)
        en.put("version", e.version)
        en.put("rows", e.rows)
        en.put("bytes", e.bytes)
      }
    }
    mapper.writeValueAsBytes(node)
  }

  /** Atomic write-then-rename of one metadata document. */
  private def atomicWrite(spark: SparkSession, root: String,
      tmpName: String, targetName: String, bytes: Array[Byte]): Unit = {
    val dir = new Path(root, "metadata")
    val f = fs(spark, dir)
    f.mkdirs(dir)
    val tmp = new Path(dir, tmpName)
    val out = f.create(tmp, true)
    out.write(bytes); out.close()
    val target = new Path(dir, targetName)
    require(f.rename(tmp, target),
      s"manifest rename failed: $tmp -> $target (stale file from a crashed commit? remove it first)")
  }

  private def writeManifest(spark: SparkSession, root: String, s: Snapshot): Unit = {
    atomicWrite(spark, root, s".v${s.version}.json.tmp", s"v${s.version}.json",
      manifestBytes(s))
    val dir = new Path(root, "metadata")
    val f = fs(spark, dir)
    // atomic pointer flip: write-then-rename with OVERWRITE via
    // FileContext — FileSystem.rename returns false when the target
    // exists, and delete-then-rename would expose a window where a
    // concurrent reader sees NO hint at all (violating the isolation
    // contract this layer exists to provide)
    val hintTmp = new Path(dir, ".version-hint.tmp")
    val ho = f.create(hintTmp, true)
    ho.write(s.version.toString.getBytes("UTF-8")); ho.close()
    val hint = new Path(dir, "version-hint.text")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dir.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(hintTmp, hint, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
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

  /** Parse one manifest document into a [[Snapshot]] — shared by the
   * version chain ([[snapshot]]) and the staged manifest
   * ([[stagedSnapshot]]); the version comes from the document itself. */
  private def readManifestFile(spark: SparkSession, p: Path): Snapshot = {
    val f = fs(spark, p)
    val in = f.open(p)
    val node = try mapper.readTree(in) finally in.close()
    val v = node.get("version").asInt()
    val pcols = (0 until node.get("partitionCols").size())
      .map(node.get("partitionCols").get(_).asText())
    val kinds = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (node.has("statsKinds")) {
      val it = node.get("statsKinds").fields()
      while (it.hasNext) { val e = it.next(); kinds(e.getKey) = e.getValue.asText() }
    }
    val bKinds = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (node.has("bloomKinds")) {
      val it = node.get("bloomKinds").fields()
      while (it.hasNext) { val e = it.next(); bKinds(e.getKey) = e.getValue.asText() }
    }
    val pTypes = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (node.has("partitionColTypes")) {
      val it = node.get("partitionColTypes").fields()
      while (it.hasNext) { val e = it.next(); pTypes(e.getKey) = e.getValue.asText() }
    }
    val files = (0 until node.get("files").size()).map { i =>
      val fn = node.get("files").get(i)
      val part = scala.collection.mutable.LinkedHashMap.empty[String, String]
      val it = fn.get("partition").fields()
      while (it.hasNext) { val e = it.next(); part(e.getKey) = e.getValue.asText() }
      val stats = scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]
      if (fn.has("stats")) {
        val si = fn.get("stats").fields()
        while (si.hasNext) {
          val e = si.next()
          stats(e.getKey) = (e.getValue.get("min").asText(),
            e.getValue.get("max").asText())
        }
      }
      val blooms = scala.collection.mutable.LinkedHashMap.empty[String, String]
      if (fn.has("blooms")) {
        val bi = fn.get("blooms").fields()
        while (bi.hasNext) { val e = bi.next(); blooms(e.getKey) = e.getValue.asText() }
      }
      FileEntry(fn.get("path").asText(), part.toMap,
        fn.get("rows").asLong(), fn.get("bytes").asLong(), stats.toMap,
        blooms.toMap)
    }
    val columns: Seq[(String, String)] =
      if (!node.has("columns")) Seq.empty
      else (0 until node.get("columns").size()).map { i =>
        val c = node.get("columns").get(i)
        (c.get("name").asText(), c.get("type").asText())
      }
    val deletes: Seq[DeleteEntry] =
      if (!node.has("deletes")) Seq.empty
      else (0 until node.get("deletes").size()).map { i =>
        val dn = node.get("deletes").get(i)
        val paths = (0 until dn.get("paths").size())
          .map(dn.get("paths").get(_).asText())
        val targets = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        val it = dn.get("targets").fields()
        while (it.hasNext) { val e = it.next(); targets(e.getKey) = e.getValue.asLong() }
        DeleteEntry(paths, targets.toMap)
      }
    val eqDeletes: Seq[EqDeleteEntry] =
      if (!node.has("eqDeletes")) Seq.empty
      else (0 until node.get("eqDeletes").size()).map { i =>
        val en = node.get("eqDeletes").get(i)
        EqDeleteEntry(
          (0 until en.get("paths").size()).map(en.get("paths").get(_).asText()),
          (0 until en.get("keyCols").size()).map(en.get("keyCols").get(_).asText()),
          en.get("version").asInt(), en.get("rows").asLong(),
          if (en.has("bytes")) en.get("bytes").asLong() else 0L)
      }
    Snapshot(v, pcols, files, kinds.toMap,
      if (node.has("operation")) node.get("operation").asText() else "write",
      columns, deletes, eqDeletes, bKinds.toMap, pTypes.toMap)
  }

  // --- commit --------------------------------------------------------------

  /**
   * Commit `df` as a new snapshot. `overwritePartitions = true` replaces
   * the manifest entries of every partition value present in `df` (the
   * Iceberg dynamic-overwrite shape CheckpointRunner's idempotent re-runs
   * need); `false` appends files to existing partitions. Data files land
   * in an immutable per-snapshot directory, so every previous snapshot
   * remains fully readable (time travel) until an explicit GC.
   *
   * The commit-time file enumeration walks ONLY the freshly written
   * `data/s<N>` subtree — bounded by this commit's output, exactly like a
   * table-format writer tracking the files it just wrote; readers never
   * list anything.
   */
  def commit(df: DataFrame, root: String, partitionCols: Seq[String],
      overwritePartitions: Boolean = true,
      statsCols: Seq[String] = Seq.empty,
      allowSchemaEvolution: Boolean = false,
      bloomCols: Seq[String] = Seq.empty,
      allowSpecEvolution: Boolean = false): Snapshot =
    commitImpl(df, root, partitionCols, overwritePartitions, statsCols,
      allowSchemaEvolution, staged = false, bloomCols = bloomCols,
      allowSpecEvolution = allowSpecEvolution)

  private def commitImpl(df: DataFrame, root: String,
      partitionCols: Seq[String], overwritePartitions: Boolean,
      statsCols: Seq[String], allowSchemaEvolution: Boolean,
      staged: Boolean, bloomCols: Seq[String] = Seq.empty,
      allowSpecEvolution: Boolean = false): Snapshot = {
    require(partitionCols.nonEmpty, "snapshot tables are partitioned")
    val spark = df.sparkSession
    requireNoPendingStage(spark, root)
    def colKinds(cols: Seq[String], what: String): Map[String, String] = {
      cols.foreach { c =>
        require(!partitionCols.contains(c),
          s"$what column '$c' is a partition column — partition pruning already covers it")
        require(df.columns.contains(c), s"$what column '$c' not in the frame")
      }
      cols.map { c =>
        df.schema(c).dataType match {
          case ByteType | ShortType | IntegerType | LongType => c -> "long"
          case StringType => c -> "string"
          case dt => throw new IllegalArgumentException(
            s"$what column '$c' must be integral or string, got ${dt.simpleString}")
        }
      }.toMap
    }
    val kinds: Map[String, String] = colKinds(statsCols, "stats")
    val bloomKinds: Map[String, String] = colKinds(bloomCols, "bloom")
    val prev = currentVersion(spark, root).map(v => snapshot(spark, root, Some(v)))
    // the commit's logical data-column schema (partition cols excluded)
    val dataSchema: Seq[(String, String)] = df.schema.fields.toSeq
      .filterNot(f => partitionCols.contains(f.name))
      .map(f => f.name -> f.dataType.catalogString)
    val specChanged = prev.exists(_.partitionCols != partitionCols)
    prev.foreach { s =>
      require(s.partitionCols == partitionCols || allowSpecEvolution,
        s"partition spec mismatch: table has ${s.partitionCols}, got $partitionCols" +
          " — pass allowSpecEvolution=true to evolve the layout")
      require(s.statsKinds.isEmpty || statsCols.isEmpty ||
        s.statsKinds == kinds,
        s"stats spec mismatch: table has ${s.statsKinds}, got $kinds")
      require(s.bloomKinds.isEmpty || bloomCols.isEmpty ||
        s.bloomKinds == bloomKinds,
        s"bloom spec mismatch: table has ${s.bloomKinds}, got $bloomKinds")
      // schema governance (Iceberg-style): a validation table fails fast
      // on ACCIDENTAL drift; evolution is explicit, and ADDITIVE only —
      // old files read back with NULL for columns added after them.
      // Type changes are never evolution (silent data corruption).
      if (s.columns.nonEmpty && !specChanged) {
        val prevT = s.columns.toMap
        val newT = dataSchema.toMap
        val retyped = s.columns.collect {
          case (n, t) if newT.get(n).exists(_ != t) => s"$n: $t -> ${newT(n)}" }
        require(retyped.isEmpty,
          s"column type change is not schema evolution: ${retyped.mkString(", ")}")
        val dropped = s.columns.map(_._1).filterNot(newT.contains)
        require(dropped.isEmpty,
          s"commit drops table columns ${dropped.mkString(", ")} — evolution is additive only")
        val added = dataSchema.map(_._1).filterNot(prevT.contains)
        require(added.isEmpty || allowSchemaEvolution,
          s"commit adds columns ${added.mkString(", ")} not in the table schema; " +
            "pass allowSchemaEvolution=true to evolve the table")
      }
      // partition-spec evolution (the Iceberg rule): the LAYOUT changes,
      // the LOGICAL schema does not — old files keep their old directory
      // layout, readers union across specs, writers use the new spec.
      // A column moving out of the spec keeps the type the manifest
      // recorded for it; a column moving in must have been a data column.
      if (s.columns.nonEmpty && specChanged) {
        val prevLogical = (s.columns.map(_._1) ++ s.partitionCols).toSet
        val newLogical = (dataSchema.map(_._1) ++ partitionCols).toSet
        require(prevLogical == newLogical,
          "partition-spec evolution cannot add or drop columns: table has " +
            s"${prevLogical.toSeq.sorted.mkString(", ")}, got " +
            s"${newLogical.toSeq.sorted.mkString(", ")}")
        val prevT = s.columns.toMap
        val retyped = dataSchema.collect {
          case (n, t) if prevT.get(n).exists(_ != t) => s"$n: ${prevT(n)} -> $t" }
        require(retyped.isEmpty,
          s"partition-spec evolution cannot retype columns: ${retyped.mkString(", ")}")
      }
    }
    val version = prev.map(_.version + 1).getOrElse(1)
    val dataDir = s"$root/data/s$version"
    df.write.partitionBy(partitionCols: _*).parquet(dataDir)
    // an append to a bloom-indexed table keeps indexing even when the
    // caller doesn't re-spell bloomCols — a file without a bloom is
    // unprunable forever, silently eroding point-lookup skipping
    val effBloomCols =
      if (bloomCols.nonEmpty) bloomCols
      else prev.map(_.bloomKinds.keys.toSeq).getOrElse(Seq.empty)
        .filter(df.columns.contains)
    val statted = enumerateDelta(spark, root, version, statsCols, effBloomCols)
    val newFiles = statted

    val overwritten: Set[Map[String, String]] =
      if (overwritePartitions) newFiles.map(_.partition).toSet else Set.empty
    val carried = prev.map(_.files.filterNot(fe => overwritten.contains(fe.partition)))
      .getOrElse(Seq.empty)
    // pending MoR delete entries ride along, shrunk to targets the
    // overwrite kept live — dropping them would resurrect deleted rows
    val snap = Snapshot(version, partitionCols, carried ++ statted,
      if (statsCols.nonEmpty) kinds
      else prev.map(_.statsKinds).getOrElse(Map.empty),
      columns = dataSchema,
      deletes = carriedDeletes(
        prev.map(_.deletes).getOrElse(Seq.empty), carried ++ statted),
      eqDeletes = carriedEqDeletes(
        prev.map(_.eqDeletes).getOrElse(Seq.empty), carried ++ statted),
      bloomKinds =
        if (bloomCols.nonEmpty) bloomKinds
        else prev.map(_.bloomKinds).getOrElse(Map.empty),
      // every spec column ever seen keeps its recorded catalog type, so
      // mixed-spec reads cast directory-inferred values losslessly
      partitionColTypes = prev.map(_.partitionColTypes).getOrElse(Map.empty) ++
        partitionCols.map(c => c -> df.schema(c).dataType.catalogString))
    if (staged) writeStagedManifest(spark, root, snap)
    else writeManifest(spark, root, snap)
    snap
  }

  /**
   * Enumerate the freshly written `data/s<version>` subtree and, when
   * stats columns are configured, attach per-file min/max column bounds
   * (the Iceberg manifest min/max): ONE aggregate pass over the delta
   * keyed on the file-path metadata column — bounded by this commit's
   * own output, never the table. Keyed by the path RELATIVE to the
   * snapshot tree (partition dirs + name): the bare file name is NOT
   * unique under a dynamic-partition write (one task writing two
   * partitions emits part-00000-<uuid> in BOTH dirs — the same job UUID,
   * a per-directory counter), and merging those two files' bounds would
   * silently widen every interval. Shared by [[commit]] and [[compact]].
   */
  private def enumerateDelta(spark: SparkSession, root: String, version: Int,
      statsCols: Seq[String], bloomCols: Seq[String] = Seq.empty): Seq[FileEntry] = {
    val dataDir = s"$root/data/s$version"
    val base = new Path(dataDir)
    val f = fs(spark, base)
    val newFiles = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    def walk(p: Path, part: Map[String, String]): Unit =
      f.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          val kv = name.split("=", 2)
          val nextPart =
            if (kv.length == 2) part + (kv(0) -> unescapePathName(kv(1)))
            else part
          walk(st.getPath, nextPart)
        } else if (name.endsWith(".parquet")) {
          newFiles += FileEntry(st.getPath.toString, part, -1L, st.getLen)
        }
      }
    walk(base, Map.empty)
    // a rewrite can legitimately produce nothing (a delete that empties
    // every affected file) — reading the fileless directory would throw
    if (newFiles.isEmpty) return Seq.empty

    // ONE aggregate over the delta fills per-file row counts (always —
    // the manifest row count is what makes [[rowCount]] a metadata-only
    // answer, exactly what Iceberg writers track) and, when configured,
    // the min/max column bounds. count(*) over parquet is footer-cheap.
    {
      import org.apache.spark.sql.functions.{col, count, lit, max, min, regexp_extract, when, xxhash64}
      val delta = spark.read.parquet(dataDir)
      // the per-file Bloom filter rides the SAME aggregate pass as the
      // min/max bounds: one shot over the delta, map-side-combined (the
      // TypedImperativeAggregate partials union), zero extra jobs. Blooms
      // are built over xxhash64 of the column (integrals canonicalized to
      // long) so the manifest carries ~10 bits/key instead of the keys.
      def bloomHash(c: String): org.apache.spark.sql.Column = {
        val base = delta.schema(c).dataType match {
          case ByteType | ShortType | IntegerType | LongType => col(c).cast("long")
          case _ => col(c)
        }
        when(col(c).isNotNull, xxhash64(base))
      }
      val aggs = count(lit(1)).as("__rows") +: (statsCols.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))) ++
        bloomCols.map(c => graft.functions.BloomKeysAgg
          .agg(bloomHash(c), BloomFpp, BloomMaxDistinct).as(s"__bloom_$c")))
      val relMarker = s"/data/s$version/"
      def rel(p: String): String = {
        val i = p.indexOf(relMarker)
        require(i >= 0, s"file $p is not under the snapshot tree $relMarker")
        p.substring(i + relMarker.length)
      }
      val byRel = delta
        .groupBy(regexp_extract(col("_metadata.file_path"),
          java.util.regex.Pattern.quote(relMarker) + "(.*)$", 1).as("__f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect().map { r =>
          r.getString(0) -> ((r.getAs[Long]("__rows"), statsCols.flatMap { c =>
            val lo = r.getAs[String](s"__min_$c")
            val hi = r.getAs[String](s"__max_$c")
            if (lo == null || hi == null) None else Some(c -> ((lo, hi)))
          }.toMap, bloomCols.flatMap { c =>
            Option(r.getAs[Array[Byte]](s"__bloom_$c")) // null = saturated/empty
              .map(b => c -> java.util.Base64.getEncoder.encodeToString(b))
          }.toMap))
        }.toMap
      newFiles.toSeq.map { fe =>
        val (rows, stats, blooms) = byRel.getOrElse(rel(fe.path),
          (-1L, Map.empty[String, (String, String)], Map.empty[String, String]))
        fe.copy(rows = rows, stats = stats, blooms = blooms)
      }
    }
  }

  /** Per-file Bloom sizing: ~10 bits/key at 1% FPP, built at eval to the
   * file's ACTUAL distinct count (BloomKeysAgg is adaptive). The distinct
   * cap bounds the manifest cost per file (~120 KB binary worst case);
   * past it the file simply records no bloom — degraded skipping, never
   * a wrong answer. */
  private val BloomFpp = 0.01
  private val BloomMaxDistinct = 100000

  // --- write-audit-publish (staged commits) ---------------------------------

  private def stagedPath(root: String) = new Path(root, "metadata/staged.json")

  /** Guard on every data-changing writer: a pending stage owns the next
   * version number, so an interleaved ordinary commit would collide with
   * the staged snapshot's data subtree and manifest version. Resolve the
   * stage ([[publishStaged]] / [[abortStaged]]) before writing again. */
  private def requireNoPendingStage(spark: SparkSession, root: String): Unit = {
    val p = stagedPath(root)
    require(!fs(spark, p).exists(p),
      s"table $root has a pending staged commit — publishStaged or abortStaged it first")
  }

  private def writeStagedManifest(spark: SparkSession, root: String,
      s: Snapshot): Unit =
    atomicWrite(spark, root, ".staged.json.tmp", "staged.json", manifestBytes(s))

  /**
   * Stage a commit without publishing it — the Iceberg write-audit-publish
   * (WAP) pattern, the table-format workflow a VALIDATION engine exists to
   * drive: write the new snapshot's data files and a complete manifest,
   * but to `metadata/staged.json` instead of the version chain, so no
   * reader can see the rows until an audit passes. Exactly [[commit]]'s
   * semantics otherwise (dynamic overwrite, per-file stats, schema
   * governance against the CURRENT published snapshot). The stage owns
   * version N+1: every other writer fails fast until [[publishStaged]]
   * promotes it (one metadata rename — the data is already in place) or
   * [[abortStaged]] discards it (deletes only the staged subtree; carried
   * files belong to published history and are untouched).
   */
  def stageCommit(df: DataFrame, root: String, partitionCols: Seq[String],
      overwritePartitions: Boolean = true,
      statsCols: Seq[String] = Seq.empty,
      allowSchemaEvolution: Boolean = false,
      bloomCols: Seq[String] = Seq.empty): Snapshot =
    commitImpl(df, root, partitionCols, overwritePartitions, statsCols,
      allowSchemaEvolution, staged = true, bloomCols = bloomCols)

  /** The pending staged snapshot, if any. */
  def stagedSnapshot(spark: SparkSession, root: String): Option[Snapshot] = {
    val p = stagedPath(root)
    if (!fs(spark, p).exists(p)) None else Some(readManifestFile(spark, p))
  }

  /** Read the table AS IF the pending stage were published — what the
   * audit step validates. Same manifest-side pruning as [[read]]. */
  def readStaged(spark: SparkSession, root: String,
      partitionFilter: Map[String, String] = Map.empty,
      rangeFilter: Map[String, (String, String)] = Map.empty): DataFrame =
    planRead(spark, stagedSnapshot(spark, root).getOrElse(
      throw new IllegalStateException(s"no staged commit under $root")),
      partitionFilter, rangeFilter)

  /** Promote the pending stage into the version chain: publish its
   * manifest as v<N>.json, flip the version hint, drop the stage marker.
   * Pure metadata — the data files were written at stage time. */
  def publishStaged(spark: SparkSession, root: String): Snapshot = {
    val snap = stagedSnapshot(spark, root).getOrElse(
      throw new IllegalStateException(s"no staged commit under $root"))
    val cur = currentVersion(spark, root).getOrElse(0)
    require(snap.version == cur + 1,
      s"staged snapshot v${snap.version} does not follow current v$cur — " +
        "the version chain moved underneath the stage")
    writeManifest(spark, root, snap)
    fs(spark, stagedPath(root)).delete(stagedPath(root), false)
    snap
  }

  /** Discard the pending stage: delete its (never-published) data subtree
   * and the stage marker. Files carried by reference from published
   * snapshots are untouched. */
  def abortStaged(spark: SparkSession, root: String): Unit = {
    val snap = stagedSnapshot(spark, root).getOrElse(
      throw new IllegalStateException(s"no staged commit under $root"))
    val dataDir = new Path(root, s"data/s${snap.version}")
    val f = fs(spark, dataDir)
    if (f.exists(dataDir)) f.delete(dataDir, true)
    fs(spark, stagedPath(root)).delete(stagedPath(root), false)
  }

  /**
   * The WAP loop in one call: stage `df`, run `audit` over the staged
   * table view (the FULL table as it would look published — carried
   * partitions included, so cross-partition invariants are auditable),
   * publish on a `None` verdict, abort on `Some(reason)`. Returns the
   * published snapshot or the abort reason. An audit that THROWS leaves
   * the stage pending for inspection (the table stays locked for writers
   * until [[abortStaged]]) — an exception is a bug in the audit, not a
   * verdict, and silently discarding the staged evidence would hide it.
   */
  def auditedCommit(df: DataFrame, root: String, partitionCols: Seq[String],
      audit: DataFrame => Option[String],
      overwritePartitions: Boolean = true,
      statsCols: Seq[String] = Seq.empty,
      allowSchemaEvolution: Boolean = false): Either[String, Snapshot] = {
    val spark = df.sparkSession
    stageCommit(df, root, partitionCols, overwritePartitions, statsCols,
      allowSchemaEvolution)
    audit(readStaged(spark, root)) match {
      case None => Right(publishStaged(spark, root))
      case Some(reason) => abortStaged(spark, root); Left(reason)
    }
  }

  // --- maintenance ---------------------------------------------------------

  /**
   * Small-file compaction — the Iceberg `rewrite_data_files` (binpack)
   * analog, and the maintenance operation a 10^12-file table cannot live
   * without: every incremental commit adds a handful of files per
   * partition, and after 10^4 commits the scan-planning and task-startup
   * overhead of tiny files dominates the read path.
   *
   * Candidate selection is PURE METADATA: a partition whose manifest
   * lists >= `minInputFiles` files smaller than `targetFileBytes` gets
   * those files rewritten; everything else is carried over untouched.
   * The rewrite is ONE distributed job for all partitions: the candidate
   * files are read as plain data rows (partition-directory inference
   * disabled — each row's partition comes from an exact relative-path
   * equi-join against the manifest, never from re-parsing directory
   * names), salted into `ceil(partition_bytes / targetFileBytes)` output
   * buckets per partition by hashing the data columns, and shuffled once
   * so each (partition, bucket) lands in one writer task. Set
   * `spark.sql.shuffle.partitions` at or above the total planned output
   * file count or colliding buckets merge (larger files, never more).
   *
   * The result is committed as an `operation = "replace"` snapshot:
   * logically identical content (the spec pins read-equality), old
   * snapshots stay readable (time travel — input files are NOT deleted;
   * [[expireSnapshots]] reclaims them), and [[changesBetween]] treats the
   * rewrite as the no-op it is. Per-file min/max stats are recomputed for
   * the rewritten files when the table has committed stats columns.
   * Returns the current snapshot unchanged (no new version) when nothing
   * qualifies.
   *
   * `sortCols` switches the strategy from binpack to SORT (Iceberg's
   * `strategy => 'sort'`): instead of hash-salting, rows range-partition
   * on (table partition, sortCols...) — one sampled range exchange, the
   * cost of any global sort — and sort within each writer task, so the
   * rewritten files carve near-disjoint sort-key intervals. That is what
   * makes the manifest min/max stats ([[read]]'s `rangeFilter`) and the
   * parquet row-group stats below them actually PRUNE: binpacked files
   * each span the whole key domain and no range query skips anything.
   * `zorderCols` instead sorts by the Morton-interleaved key of two
   * int32-ish columns ([[graft.functions.ZOrder64]], cast to int —
   * pre-bucket wider keys to 32-bit resolution): every file covers a
   * small RECTANGLE of the (a, b) domain so selective predicates on
   * EITHER column prune, where a lexicographic sort serves only its
   * leading column. With either ordering, `minInputFiles = 1` is allowed
   * (re-writing a single file to establish order is meaningful work;
   * for plain binpack it would be a rename and stays rejected).
   */
  def compact(spark: SparkSession, root: String,
      targetFileBytes: Long = 512L * 1024 * 1024,
      minInputFiles: Int = 2,
      sortCols: Seq[String] = Seq.empty,
      zorderCols: Option[(String, String)] = None): Snapshot = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(sortCols.isEmpty || zorderCols.isEmpty,
      "sortCols and zorderCols are mutually exclusive orderings")
    val ordered = sortCols.nonEmpty || zorderCols.nonEmpty
    require(minInputFiles >= (if (ordered) 1 else 2),
      "compacting fewer than 2 files is a rename")
    requireNoPendingStage(spark, root)
    val snap = snapshot(spark, root)
    // only CURRENT-spec files binpack (the per-file routing frame carries
    // partition values under the current layout); files from an older
    // partition spec migrate to the current one when a row-level rewrite
    // touches them ([[deleteWhere]]/[[merge]]/[[materializeDeletes]] all
    // write under the current spec) — Iceberg's rewrite behaves the same
    val toRewrite: Seq[FileEntry] = snap.files
      .filter(_.partition.keySet == snap.partitionCols.toSet)
      .groupBy(_.partition).toSeq
      .flatMap { case (_, fes) =>
        val small = fes.filter(_.bytes < targetFileBytes)
        if (small.size >= minInputFiles) small else Seq.empty
      }
    if (toRewrite.isEmpty) return snap

    val version = snap.version + 1
    val dataDir = s"$root/data/s$version"
    val pcols = snap.partitionCols
    val nOut: Map[Map[String, String], Int] = toRewrite.groupBy(_.partition)
      .map { case (p, fes) => p -> math.max(1, math.ceil(
        fes.map(_.bytes).sum.toDouble / targetFileBytes).toInt) }

    // rel path (partition dirs + file name) -> its manifest entry; the
    // exact-string join key that sidesteps partition-value re-inference
    def rel(p: String): String = {
      val i = p.indexOf("/data/s")
      require(i >= 0, s"file $p is not under a snapshot tree")
      p.substring(i).replaceFirst("^/data/s\\d+/", "")
    }
    import spark.implicits._
    import org.apache.spark.sql.functions.{element_at, pmod, regexp_replace, xxhash64}
    val routing = org.apache.spark.sql.functions.broadcast(
      toRewrite.map(fe => (rel(fe.path), pcols.map(fe.partition(_)),
        nOut(fe.partition))).toDF("__rel", "__pv", "__nf"))

    // recursiveFileLookup disables partition-directory inference: the
    // frame is pure data columns + the file-path metadata column.
    // mergeSchema: candidate files can straddle a schema evolution
    // (pre-evolution files lack the added columns — a single random
    // footer schema would silently DROP the new column's data); rows
    // from old files get NULLs, exactly like the aligned read path.
    val raw = spark.read
      .option("recursiveFileLookup", "true")
      .option("mergeSchema", "true")
      .parquet(toRewrite.map(_.path): _*)
    val dataCols =
      if (snap.columns.nonEmpty) snap.columns.map(_._1)
      else raw.columns.toSeq
    // all metadata-derived columns materialize BEFORE any join — the
    // `_metadata` pseudo-column only resolves on the scan relation
    val withRelAll = raw.withColumn("__rel",
        regexp_replace(col("_metadata.file_path"), "^.*?/data/s\\d+/", ""))
      .withColumn("__suffix",
        org.apache.spark.sql.functions.regexp_extract(
          col("_metadata.file_path"), "(/data/s\\d+/.*)$", 1))
      .withColumn("__pos", col("_metadata.row_index"))
    // partition columns and evolution-added columns materialize BEFORE
    // pending deletes apply: an equality-delete entry may legally key on
    // either (deleteByKeysMoR validates against table cols INCLUDING
    // partition cols), and the recursive read carries neither. Partition
    // values come from the routing frame's manifest values; columns no
    // candidate file carries yet become typed NULLs.
    val joined0 = withRelAll.join(routing, "__rel")
    val withPart = pcols.zipWithIndex.foldLeft(joined0) { case (d, (c, i)) =>
      d.withColumn(c, element_at(col("__pv"), i + 1)) }
    val patched = snap.columns
      .filterNot { case (n, _) => raw.columns.contains(n) }
      .foldLeft(withPart) { case (d, (n, t)) =>
        d.withColumn(n, org.apache.spark.sql.functions.lit(null).cast(t)) }
    // a rewrite must APPLY pending MoR position and equality deletes
    // aimed at its inputs (Iceberg's rewrite_data_files contract) — the
    // rewritten files then shed their entries via carriedDeletes /
    // carriedEqDeletes below
    val joined =
      if (noPendingDeletes(snap, toRewrite)) patched
      else applyEqDeletes(applyDeletes(patched, snap, toRewrite),
        snap, toRewrite)
    val outCols = dataCols.map(col) ++ pcols.zipWithIndex.map { case (c, i) =>
      element_at(col("__pv"), i + 1).as(c) }
    val spread =
      if (!ordered) {
        // binpack: hash-salt into the planned per-partition bucket count
        joined
          .withColumn("__salt", pmod(xxhash64(dataCols.map(col): _*),
            col("__nf").cast("long")))
          .repartition(col("__pv"), col("__salt"))
          .select(outCols: _*)
      } else {
        // sort / z-order: one sampled range exchange over
        // (partition, order key), rows sorted inside each writer task —
        // files carve near-disjoint key intervals, stats prune
        val orderKey: Seq[org.apache.spark.sql.Column] = zorderCols match {
          case Some((a, b)) =>
            Seq(a, b).foreach(c => require(dataCols.contains(c),
              s"z-order column '$c' is not a data column (${dataCols.mkString(", ")})"))
            Seq(graft.functions.ZOrder64.zorder(
              col(a).cast("int"), col(b).cast("int")))
          case None =>
            sortCols.foreach(c => require(dataCols.contains(c),
              s"sort column '$c' is not a data column (${dataCols.mkString(", ")})"))
            sortCols.map(col)
        }
        val keys = col("__pv") +: orderKey
        joined
          .repartitionByRange(math.max(1, nOut.values.sum), keys: _*)
          .sortWithinPartitions(keys: _*)
          .select(outCols: _*)
      }
    spread.write.partitionBy(pcols: _*).parquet(dataDir)

    val statted = enumerateDelta(spark, root, version,
      snap.statsKinds.keys.toSeq, snap.bloomKinds.keys.toSeq)
    val rewritten = toRewrite.map(_.path).toSet
    val carried = snap.files.filterNot(fe => rewritten.contains(fe.path))
    val out = Snapshot(version, pcols, carried ++ statted, snap.statsKinds,
      operation = "replace", columns = snap.columns,
      deletes = carriedDeletes(snap.deletes, carried ++ statted),
      eqDeletes = carriedEqDeletes(snap.eqDeletes, carried ++ statted),
      bloomKinds = snap.bloomKinds,
      partitionColTypes = snap.partitionColTypes)
    writeManifest(spark, root, out)
    out
  }

  // --- named refs: tags and branches --------------------------------------

  /** A named pointer into the version chain — the Iceberg refs analog
   * (`SnapshotRef`: tags immutable, branches movable). */
  case class Ref(kind: String, version: Int) {
    require(kind == "tag" || kind == "branch", s"unknown ref kind '$kind'")
  }

  private def refsPath(root: String) = new Path(root, "metadata/refs.json")

  private val refNameRe = "[A-Za-z0-9][A-Za-z0-9._-]*".r

  /** All named refs on the table (empty when none were ever created). */
  def refs(spark: SparkSession, root: String): Map[String, Ref] = {
    val p = refsPath(root)
    val f = fs(spark, p)
    if (!f.exists(p)) return Map.empty
    val in = f.open(p)
    val node = try mapper.readTree(in) finally in.close()
    val out = Map.newBuilder[String, Ref]
    node.fields().forEachRemaining { e =>
      out += e.getKey -> Ref(e.getValue.get("type").asText(),
        e.getValue.get("version").asInt())
    }
    out.result()
  }

  private def writeRefs(spark: SparkSession, root: String,
      all: Map[String, Ref]): Unit = {
    val node = mapper.createObjectNode()
    all.toSeq.sortBy(_._1).foreach { case (n, r) =>
      val rn = node.putObject(n)
      rn.put("type", r.kind); rn.put("version", r.version)
    }
    // write-then-OVERWRITE-rename (the version-hint pattern): refs.json is
    // rewritten on every ref mutation, and FileSystem.rename refuses an
    // existing target while delete-then-rename would expose a no-refs
    // window to concurrent readers
    val dir = new Path(root, "metadata")
    val f = fs(spark, dir)
    f.mkdirs(dir)
    val tmp = new Path(dir, ".refs.json.tmp")
    val out = f.create(tmp, true)
    out.write(mapper.writeValueAsBytes(node)); out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dir.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, refsPath(root), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def createRef(spark: SparkSession, root: String, name: String,
      kind: String, version: Option[Int]): Ref = {
    require(refNameRe.matches(name), s"invalid ref name '$name'")
    val v = version.getOrElse(currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root")))
    // resolve through the ordinary lookup so a missing/expired target
    // fails with the standard missing-snapshot error, never a dead ref
    snapshot(spark, root, Some(v))
    val all = refs(spark, root)
    require(!all.contains(name),
      s"ref '$name' already exists (${all(name).kind} at v${all(name).version})")
    val r = Ref(kind, v)
    writeRefs(spark, root, all + (name -> r))
    r
  }

  /** Create an IMMUTABLE tag at `version` (default: current). Fails if
   * the name is taken — Iceberg tags never move; [[dropRef]] removes. */
  def tagSnapshot(spark: SparkSession, root: String, name: String,
      version: Option[Int] = None): Ref =
    createRef(spark, root, name, "tag", version)

  /** Create a movable branch head at `version` (default: current). This
   * table's history is a single linear chain, so branches advance by
   * [[fastForwardBranch]] only — the Iceberg `fast_forward` procedure;
   * divergent branch WRITES (Iceberg's branch commits) are out of scope. */
  def createBranch(spark: SparkSession, root: String, name: String,
      version: Option[Int] = None): Ref =
    createRef(spark, root, name, "branch", version)

  /** Advance a branch head to `toVersion` (default: current). Fast-forward
   * only: moving a head BACKWARD would silently unpin history that
   * [[expireSnapshots]] may already have relied on it pinning. */
  def fastForwardBranch(spark: SparkSession, root: String, name: String,
      toVersion: Option[Int] = None): Ref = {
    val all = refs(spark, root)
    val cur = all.getOrElse(name,
      throw new IllegalArgumentException(s"no ref named '$name'"))
    require(cur.kind == "branch", s"ref '$name' is a ${cur.kind}, not a branch")
    val v = toVersion.getOrElse(currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root")))
    require(v >= cur.version,
      s"fast-forward only: branch '$name' is at v${cur.version}, target v$v")
    snapshot(spark, root, Some(v))
    val r = cur.copy(version = v)
    writeRefs(spark, root, all + (name -> r))
    r
  }

  /** Remove a tag or branch. The snapshots it pinned become expirable. */
  def dropRef(spark: SparkSession, root: String, name: String): Unit = {
    val all = refs(spark, root)
    require(all.contains(name), s"no ref named '$name'")
    writeRefs(spark, root, all - name)
  }

  /** Resolve a ref name to its pinned version. */
  def refVersion(spark: SparkSession, root: String, name: String): Int =
    refs(spark, root).getOrElse(name,
      throw new IllegalArgumentException(s"no ref named '$name'")).version

  /** Read the table at a named ref — `VERSION AS OF 'tag'`. Same scan
   * planning as [[read]] at the pinned version. */
  def readRef(spark: SparkSession, root: String, name: String,
      partitionFilter: Map[String, String] = Map.empty,
      rangeFilter: Map[String, (String, String)] = Map.empty,
      keyEquals: Map[String, String] = Map.empty): DataFrame =
    read(spark, root, Some(refVersion(spark, root, name)),
      partitionFilter, rangeFilter, keyEquals)

  /**
   * Roll the table back to an earlier version's state — Iceberg's
   * `rollback_to_snapshot` procedure, the recovery move after a bad
   * commit (a botched backfill, a wrong-predicate delete). The rollback
   * is a NEW commit, `operation = "rollback"`: history stays append-only,
   * so the bad versions remain time-travelable evidence until
   * [[expireSnapshots]] reaps them, and nothing ever moves the version
   * hint backward (a hint rewind would re-issue version numbers, silently
   * corrupting incremental consumers and refs pinned past the bad
   * commit). Metadata-only and O(manifest): the new manifest re-references
   * the target's files, pending MoR deletes, schema, partition spec and
   * stats verbatim — zero data I/O, like [[compact]]'s commit step.
   *
   * Reads at the new current == reads at `targetVersion`, byte for byte.
   * Incremental/changelog consumers: a rollback is a real state change —
   * [[changelogBetween]] reports it as the NET row diff between the two
   * live states (exceptAll both ways — scan-priced, exact even when the
   * interval's only difference is a pending equality delete the rollback
   * shed), and the replay invariant holds across it like any other
   * version. Rolling back to the current version is a no-op (returns the
   * current snapshot, no new commit — Iceberg's behavior). Fails loud if
   * the target manifest is already expired or a staged commit pends.
   */
  def rollbackTo(spark: SparkSession, root: String,
      targetVersion: Int): Snapshot = {
    requireNoPendingStage(spark, root)
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    // a version that never existed is operator error, not expiry — say so
    // (the expiry message below would otherwise claim v0/v-3 "expired")
    require(targetVersion >= 1,
      s"rollback target v$targetVersion never existed — versions start at v1")
    require(targetVersion <= cur,
      s"rollback target v$targetVersion is ahead of current v$cur — " +
        "use fastForwardBranch/readRef for forward movement")
    if (targetVersion == cur) return snapshot(spark, root, Some(cur))
    val p = new Path(root, s"metadata/v$targetVersion.json")
    require(fs(spark, p).exists(p),
      s"rollback target v$targetVersion expired — its manifest is gone")
    val target = snapshot(spark, root, Some(targetVersion))
    val snap = target.copy(version = cur + 1, operation = "rollback")
    writeManifest(spark, root, snap)
    snap
  }

  // --- metadata tables -----------------------------------------------------

  /** Schema of [[filesTable]]. `content` ∈ {"data", "position-deletes",
   * "equality-deletes"} — Iceberg's file-content kinds. */
  val filesTableSchema: StructType = StructType(Seq(
    StructField("content", StringType, nullable = false),
    StructField("file_path", StringType, nullable = false),
    StructField("partition", MapType(StringType, StringType,
      valueContainsNull = false), nullable = false),
    StructField("record_count", LongType, nullable = true),
    StructField("file_size_in_bytes", LongType, nullable = true),
    StructField("lower_bounds", MapType(StringType, StringType,
      valueContainsNull = false), nullable = false),
    StructField("upper_bounds", MapType(StringType, StringType,
      valueContainsNull = false), nullable = false)))

  /** Schema of [[snapshotsTable]]. */
  val snapshotsTableSchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("data_file_count", LongType, nullable = false),
    StructField("delete_file_count", LongType, nullable = false),
    StructField("record_count", LongType, nullable = true),
    StructField("total_data_bytes", LongType, nullable = true),
    StructField("is_current", BooleanType, nullable = false)))

  /** Iceberg's `refs` metadata table: one row per named ref, sorted by
   * name. */
  def refsTable(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    val rows = refs(spark, root).toSeq.sortBy(_._1)
      .map { case (n, r) => Row(n, r.kind, r.version.toLong) }
    spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)
  }

  /** Iceberg's `files` metadata table, answered from PURE manifest
   * metadata (one FileStatus probe per pending DELETE file for its size
   * — delete commits don't record per-file bytes pre-round-5; zero data
   * I/O either way). Schema: [[filesTableSchema]].
   * `record_count` for a multi-file position-delete commit is NULL per
   * file (the manifest records per-TARGET counts, not per-delete-file
   * splits). */
  def filesTable(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.Row
    val snap = snapshot(spark, root, version)
    val f = fs(spark, new Path(root))
    def statLen(p: String): Any = {
      val hp = new Path(p)
      if (f.exists(hp)) f.getFileStatus(hp).getLen else null
    }
    val data = snap.files.map { fe =>
      Row("data", fe.path, fe.partition, fe.rows, fe.bytes,
        fe.stats.map { case (c, (lo, _)) => c -> lo },
        fe.stats.map { case (c, (_, hi)) => c -> hi })
    }
    val posDel = snap.deletes.flatMap { d =>
      val perFile: Any =
        if (d.paths.size == 1) d.targets.valuesIterator.sum else null
      d.paths.map(p => Row("position-deletes", p,
        Map.empty[String, String], perFile, statLen(p),
        Map.empty[String, String], Map.empty[String, String]))
    }
    val eqDel = snap.eqDeletes.flatMap { e =>
      val perFile: Any = if (e.paths.size == 1) e.rows else null
      e.paths.map(p => Row("equality-deletes", p,
        Map.empty[String, String], perFile, statLen(p),
        Map.empty[String, String], Map.empty[String, String]))
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row]((data ++ posDel ++ eqDel).asJava),
      filesTableSchema)
  }

  /** Iceberg's `snapshots`/`history` metadata table: one row per LIVE
   * (unexpired) manifest, ascending. Pure metadata — the per-version
   * counts come from the manifests alone. Schema:
   * [[snapshotsTableSchema]]. */
  def snapshotsTable(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.Row
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val metaDir = new Path(root, "metadata")
    val f = fs(spark, metaDir)
    val rows = f.listStatus(metaDir).toSeq.map(_.getPath)
      .filter(_.getName.matches("v\\d+\\.json"))
      .map(p => p.getName.stripPrefix("v").stripSuffix(".json").toInt)
      .sorted
      .map { v =>
        val s = snapshot(spark, root, Some(v))
        Row(v.toLong, s.operation, s.files.size.toLong,
          (s.deletes.map(_.paths.size).sum +
            s.eqDeletes.map(_.paths.size).sum).toLong,
          s.files.map(_.rows).sum, s.files.map(_.bytes).sum, v == cur)
      }
    spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava),
      snapshotsTableSchema)
  }

  /**
   * Reclaim history — the Iceberg `expire_snapshots` analog and
   * [[compact]]'s other half: compaction keeps its input files on disk so
   * old snapshots stay readable; expiration deletes the manifests older
   * than the `keepLast` most recent versions plus every data file ONLY
   * those expired snapshots reference. Metadata-only set arithmetic — no
   * directory listing (orphans from crashed commits are out of scope,
   * as in Iceberg, where that is `remove_orphan_files`). Time travel to
   * an expired version fails with the ordinary missing-snapshot error;
   * everything the surviving snapshots reference is untouched. Versions
   * pinned by a named ref ([[tagSnapshot]]/[[createBranch]]) are NEVER
   * expired and their files stay live — the Iceberg retention rule that
   * makes tags useful (pin a training-data release; expiration cannot
   * eat it). Returns the expired version numbers (empty when history is
   * already short).
   */
  def expireSnapshots(spark: SparkSession, root: String,
      keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val current = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val cutoff = current - keepLast + 1
    val pinned: Set[Int] = refs(spark, root).values.map(_.version).toSet
    val expired = (1 until cutoff)
      .filterNot(pinned.contains)
      .filter { v =>
        fs(spark, new Path(root)).exists(new Path(root, s"metadata/v$v.json"))
      }
    if (expired.isEmpty) return Seq.empty
    val surviving = ((cutoff to current) ++ pinned.filter(_ < cutoff)).distinct
    val live: Set[String] = surviving
      .filter(v => fs(spark, new Path(root))
        .exists(new Path(root, s"metadata/v$v.json")))
      .flatMap { v =>
        val s = snapshot(spark, root, Some(v))
        s.files.map(_.path) ++ s.deletes.flatMap(_.paths) ++
          s.eqDeletes.flatMap(_.paths)
      }.toSet
    val f = fs(spark, new Path(root))
    expired.foreach { v =>
      val s = snapshot(spark, root, Some(v))
      (s.files.map(_.path) ++ s.deletes.flatMap(_.paths) ++
          s.eqDeletes.flatMap(_.paths))
        .filterNot(live.contains)
        .foreach(p => f.delete(new Path(p), false))
      f.delete(new Path(root, s"metadata/v$v.json"), false)
    }
    expired
  }

  /**
   * Delete files under `<root>/data/` that NO reachable manifest
   * references — the Iceberg `remove_orphan_files` analog, closing the
   * gap [[expireSnapshots]] explicitly leaves open: a crashed commit or
   * compaction writes data files and dies before its manifest lands, and
   * those bytes are invisible to every snapshot yet occupy storage
   * forever. This is the ONE operation that legitimately LISTS the data
   * tree (reconciling disk against metadata is its entire job; the read
   * path never lists).
   *
   * Reachable = every surviving `v<N>.json` in the chain PLUS a pending
   * staged manifest — a WAP stage's files are never orphans while the
   * stage is open. `olderThanMs` is the in-flight-writer grace period
   * (Iceberg's `older_than`, default 3 days): files younger than the
   * cutoff are kept even when unreferenced, so a commit racing this
   * cleanup doesn't lose the data it is about to publish. Empty
   * partition/snapshot directories left behind are pruned. Returns the
   * deleted paths.
   */
  def removeOrphanFiles(spark: SparkSession, root: String,
      olderThanMs: Long = 3L * 24 * 3600 * 1000): Seq[String] = {
    val dataRoot = new Path(root, "data")
    val f = fs(spark, dataRoot)
    if (!f.exists(dataRoot)) return Seq.empty
    val referenced: Set[String] = {
      val metaDir = new Path(root, "metadata")
      def refs(s: Snapshot): Seq[String] =
        s.files.map(_.path) ++ s.deletes.flatMap(_.paths) ++
          s.eqDeletes.flatMap(_.paths)
      val chain =
        if (!f.exists(metaDir)) Seq.empty
        else f.listStatus(metaDir).toSeq.map(_.getPath)
          .filter(_.getName.matches("v\\d+\\.json"))
          .flatMap(p => refs(readManifestFile(spark, p)))
      (chain ++ stagedSnapshot(spark, root).toSeq.flatMap(refs))
        .map(p => new Path(p).toUri.getPath).toSet
    }
    val cutoff = System.currentTimeMillis() - olderThanMs
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    def sweep(dir: Path): Boolean = { // returns "directory is now empty"
      var empty = true
      f.listStatus(dir).foreach { st =>
        if (st.isDirectory) {
          if (sweep(st.getPath)) f.delete(st.getPath, false) else empty = false
        } else {
          val norm = st.getPath.toUri.getPath
          if (!referenced.contains(norm) && st.getModificationTime < cutoff) {
            f.delete(st.getPath, false)
            deleted += st.getPath.toString
          } else empty = false
        }
      }
      empty
    }
    sweep(dataRoot)
    // MoR position-delete files live under their own tree; a crashed
    // deleteWhereMoR leaves the same kind of orphan there
    val deletesRoot = new Path(root, "deletes")
    if (f.exists(deletesRoot)) sweep(deletesRoot)
    deleted.toSeq
  }

  // --- read ----------------------------------------------------------------

  /**
   * Plan a scan from the manifest: resolve the snapshot (current or
   * pinned), prune files by the partition predicate MANIFEST-SIDE, and
   * hand Spark exactly the surviving file paths (`basePath` per snapshot
   * subtree reattaches partition columns). No directory listing happens on
   * the read path; an empty survivor set still returns the right schema.
   */
  def read(spark: SparkSession, root: String, version: Option[Int] = None,
      partitionFilter: Map[String, String] = Map.empty,
      rangeFilter: Map[String, (String, String)] = Map.empty,
      keyEquals: Map[String, String] = Map.empty): DataFrame =
    planRead(spark, snapshot(spark, root, version), partitionFilter,
      rangeFilter, keyEquals)

  /** Plan a scan over an already-resolved snapshot — shared by [[read]]
   * (the version chain) and [[readStaged]] (a pending WAP stage).
   *
   * `keyEquals` is the point-lookup complement to `rangeFilter`: for an
   * equality probe on a bloom-indexed column (`commit = '<sha>'` — the
   * reference's MD5/UUID identity types, Types.pm:32-40, where every
   * file's [min,max] spans the domain and range stats prune nothing),
   * files whose per-file Bloom says DEFINITELY-ABSENT are skipped
   * manifest-side. Same contract as `rangeFilter`: pruning only — the
   * surviving frame still needs the row predicate applied (a Bloom "maybe"
   * is not a match). */
  private def planRead(spark: SparkSession, snap: Snapshot,
      partitionFilter: Map[String, String],
      rangeFilter: Map[String, (String, String)],
      keyEquals: Map[String, String] = Map.empty): DataFrame = {
    rangeFilter.keys.foreach(c => require(snap.statsKinds.contains(c),
      s"no committed stats for column '$c' (statsKinds: ${snap.statsKinds.keySet})"))
    keyEquals.keys.foreach(c => require(snap.bloomKinds.contains(c),
      s"no committed bloom for column '$c' (bloomKinds: ${snap.bloomKinds.keySet})"))
    val probes: Map[String, Long] = keyEquals.map { case (c, v) =>
      c -> probeHash(snap.bloomKinds(c), v) }
    // a partition key must exist in SOME spec (typos fail loud); a file
    // written under a spec WITHOUT that key cannot be pruned by it —
    // the Iceberg mixed-spec rule: old-layout files always survive
    // new-layout partition predicates and filter row-side instead
    partitionFilter.keys.foreach(k => require(
      snap.partitionCols.contains(k) || snap.files.exists(_.partition.contains(k)),
      s"'$k' is not a partition column of any spec of this table"))
    val survivors = snap.files.filter(fe =>
      partitionFilter.forall { case (k, v) =>
        !fe.partition.contains(k) || fe.partition(k) == v } &&
        rangeFilter.forall { case (c, (lo, hi)) =>
          fe.stats.get(c) match {
            case None => true // no bounds recorded for this file: keep
            case Some((fLo, fHi)) => snap.statsKinds(c) match {
              case "long" => !(fHi.toLong < lo.toLong || fLo.toLong > hi.toLong)
              case _ => !(fHi < lo || fLo > hi)
            }
          }
        } &&
        probes.forall { case (c, h) =>
          fe.blooms.get(c) match {
            case None => true // no bloom recorded (saturated file): keep
            case Some(b64) => graft.functions.BloomKeysAgg.mightContain(
              java.util.Base64.getDecoder.decode(b64), h)
          }
        })
    if (survivors.isEmpty) {
      // schema from any file of the snapshot, filtered to no rows; a
      // snapshot with NO files at all (a row-level delete emptied the
      // table) synthesizes it from the recorded logical schema instead —
      // partition columns type as string there, matching the stringly
      // partition values the manifest itself stores.
      snap.files.headOption match {
        case Some(any) =>
          return sliceRead(spark, Seq(any), snap)
            .filter(org.apache.spark.sql.functions.lit(false))
        case None =>
          if (snap.columns.isEmpty)
            throw new IllegalStateException(
              "empty snapshot with no recorded schema (pre-round-4 manifest)")
          val fields = snap.columns.map { case (n, t) =>
            org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.DataType.fromDDL(t)) } ++
            snap.partitionCols.map(c => org.apache.spark.sql.types.StructField(
              c, org.apache.spark.sql.types.StringType))
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(fields))
      }
    }
    // merge-on-read: when any pending position- or equality-delete entry
    // targets a surviving file, read through the delete-applying path
    // (the plain sliceRead stays the fast path — no metadata columns, no
    // joins)
    val base =
      if (noPendingDeletes(snap, survivors)) sliceRead(spark, survivors, snap)
      else readLive(spark, survivors, snap).drop("__suffix", "__pos")
    // mixed-spec exactness: a surviving file whose older layout lacks a
    // filtered key was only pruning-exempt, not a match — the predicate
    // re-applies ROW-side for those keys so read(partitionFilter) means
    // the same thing before and after a spec evolution (the same `scoped`
    // rule deleteWhere uses). Homogeneous tables skip this: pruning
    // already made the cut exact, and the fast path stays filter-free.
    val rowSide = partitionFilter.filter { case (k, _) =>
      survivors.exists(fe => !fe.partition.contains(k)) }
    rowSide.foldLeft(base) { case (df, (k, v)) =>
      df.filter(col(k) === org.apache.spark.sql.functions.lit(v)) }
  }

  /** Group surviving files by snapshot subtree (= basePath) and union —
   * files from different snapshots carry different base directories.
   * When the snapshot records a logical schema, each subtree's frame is
   * aligned to it first (columns added after the subtree was written
   * materialize as typed NULLs — Iceberg's read-time schema
   * reconciliation); legacy schema-less manifests keep the strict union,
   * so an unrecorded physical mismatch still fails loudly. */
  private def sliceRead(spark: SparkSession, files: Seq[FileEntry],
      snap: Snapshot): DataFrame = {
    val bySnapDir = files.groupBy(fe => fe.path.replaceAll("(/data/s\\d+)/.*$", "$1"))
    bySnapDir.map { case (basePath, fes) =>
      alignTo(spark.read.option("basePath", basePath).parquet(fes.map(_.path): _*), snap)
    }.reduce(_.unionByName(_))
  }

  /** Project `df` onto the snapshot's recorded schema: data columns in
   * declared order (missing ones as typed NULL literals), partition
   * columns after, then any `extra` bookkeeping columns (e.g. the file
   * suffix the row-level operations route on). No-op for schema-less
   * legacy manifests. */
  private def alignTo(df: DataFrame, snap: Snapshot,
      extra: Seq[String] = Seq.empty): DataFrame = {
    if (snap.columns.isEmpty) df
    else {
      import org.apache.spark.sql.functions.lit
      val have = df.columns.toSet
      // present columns CAST to the declared type: a no-op on the
      // homogeneous path, and the lossless reconciliation that lets
      // mixed-partition-spec subtrees union (a column read from
      // directory names in one subtree and from parquet in another must
      // surface with ONE type — the recorded one)
      val data = snap.columns.map { case (n, t) =>
        if (have(n)) col(n).cast(t).as(n) else lit(null).cast(t).as(n) }
      val parts = snap.partitionCols.filter(have).map(c =>
        snap.partitionColTypes.get(c)
          .map(t => col(c).cast(t).as(c)).getOrElse(col(c)))
      df.select(data ++ parts ++ extra.map(col): _*)
    }
  }

  /**
   * Incremental scan: read exactly the files ADDED between two snapshot
   * versions — the Iceberg incremental-read pattern that lets a
   * validation/curation pass process only a snapshot delta instead of
   * re-scanning the table. Data files are immutable, so the file-path
   * set difference IS the change set; under a dynamic-partition
   * overwrite the rewritten partitions' new files appear here (their
   * replaced predecessors are simply no longer referenced — row-level
   * deletes are out of scope, as in Iceberg's append-only incremental
   * scan). `from == to` (or nothing added) returns an empty frame with
   * the table schema.
   *
   * [[compact]] snapshots (`operation = "replace"`) are logical no-ops
   * and are unwound, exactly like Iceberg's incremental scan skipping
   * replace snapshots: a rewrite's output files never appear in a delta,
   * and the input files it dropped are ADDED BACK when they entered the
   * table inside this interval — so rows appended at v and compacted at
   * v+1 still reach an incremental consumer of (v-1, v+1] exactly once
   * (the originals stay on disk until [[expireSnapshots]]; expiring an
   * interval's intermediate manifests forfeits that unwinding for it).
   * The one over-delivery vs the plain set-diff: an interval containing
   * append → compact → partition-overwrite re-surfaces the appended rows
   * even though the overwrite logically dropped them — at-least-once
   * across rewrites, the standard incremental-scan contract.
   */
  def changesBetween(spark: SparkSession, root: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val before = snapshot(spark, root, Some(fromVersion)).files.map(_.path).toSet
    val to = snapshot(spark, root, Some(toVersion))
    val f = fs(spark, new Path(root))
    def manifestExists(v: Int) =
      f.exists(new Path(root, s"metadata/v$v.json"))
    var added = to.files.filterNot(fe => before.contains(fe.path))
    // unwind replace snapshots newest-first, so chained compactions
    // resolve down to the interval's original appends
    val replaceVs = ((fromVersion + 1) to toVersion).reverse.filter(v =>
      manifestExists(v) && snapshot(spark, root, Some(v)).operation == "replace")
    for (r <- replaceVs if manifestExists(r - 1)) {
      val marker = s"/data/s$r/"
      val prevFiles = snapshot(spark, root, Some(r - 1)).files
      val atR = snapshot(spark, root, Some(r)).files.map(_.path).toSet
      val removed = prevFiles.filterNot(fe => atR.contains(fe.path))
      val have = added.map(_.path).toSet
      added = added.filterNot(_.path.contains(marker)) ++
        removed.filterNot(fe =>
          before.contains(fe.path) || have.contains(fe.path))
    }
    if (added.isEmpty) {
      val any = to.files.headOption.getOrElse(
        throw new IllegalStateException("empty snapshot"))
      sliceRead(spark, Seq(any), to).filter(org.apache.spark.sql.functions.lit(false))
    } else if (noPendingDeletes(to, added)) sliceRead(spark, added, to)
    // apply the TO-version's pending MoR deletes to the delta so an
    // incremental consumer never re-ingests rows already deleted at `to`
    else readLive(spark, added, to).drop("__suffix", "__pos")
  }

  /**
   * Row-level CHANGELOG scan — the Iceberg changelog-scan / Delta CDF
   * analog: every logical row change in `(fromVersion, toVersion]`,
   * tagged `_change_type` ("insert" | "delete") and `_commit_version`.
   * [[changesBetween]] answers "what rows are new?"; this answers "what
   * happened?", the feed a downstream mirror or audit log replays. The
   * defining invariant (spec-pinned): for every version v in the
   * interval, multiset(state v) == multiset(state v-1) − deletes(v) +
   * inserts(v).
   *
   * Granularity follows Iceberg's changelog scan:
   *  - appends / dynamic overwrites: added files' rows as inserts,
   *    replaced files' LIVE rows as deletes;
   *  - copy-on-write rewrites ([[deleteWhere]]/[[deleteByKeys]]/
   *    [[merge]]): whole-file granularity — removed files' live
   *    pre-image rows as deletes, rewritten files' rows as inserts
   *    (a surviving row appears as a delete+insert pair; net-change
   *    folding is the consumer's join, as in Iceberg);
   *  - merge-on-read commits are ROW-EXACT, the reason a CDC source
   *    uses them: a [[deleteWhereMoR]] commit emits exactly the doomed
   *    (file, position) rows; a [[deleteByKeysMoR]] commit emits
   *    exactly the live pre-image rows matching its key tuples (a key
   *    that matched nothing emits nothing);
   *  - `replace` snapshots ([[compact]]/[[materializeDeletes]]) are
   *    logical no-ops and emit nothing.
   *
   * Every manifest in the interval must still exist — a changelog over
   * an expired snapshot cannot be reconstructed, and a silent gap would
   * corrupt any replayed mirror, so this fails loud where
   * [[changesBetween]] may skip. Pre-evolution rows surface added
   * columns as NULL, exactly like the read path.
   */
  def changelogBetween(spark: SparkSession, root: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    import org.apache.spark.sql.functions.{broadcast, lit}
    val f = fs(spark, new Path(root))
    (fromVersion to toVersion).foreach(v => require(
      f.exists(new Path(root, s"metadata/v$v.json")),
      s"snapshot v$v expired — the changelog over it cannot be reconstructed"))
    def tag(df: DataFrame, kind: String, v: Int): DataFrame =
      df.withColumn("_change_type", lit(kind))
        .withColumn("_commit_version", lit(v))
    val parts: Seq[DataFrame] = ((fromVersion + 1) to toVersion).flatMap { v =>
      val prev = snapshot(spark, root, Some(v - 1))
      val cur = snapshot(spark, root, Some(v))
      if (cur.operation == "replace") Seq.empty
      else if (cur.operation == "rollback") {
        // a rollback is a real state change, but the file diff alone can
        // miss it (the interval's only difference may be a pending
        // equality delete the rollback shed, resurrecting rows in files
        // BOTH versions reference) — report the NET live-state diff,
        // exact by construction; scan-priced, the one changelog shape
        // that cannot be answered from manifests alone
        def live(s: Snapshot): Option[DataFrame] =
          if (s.files.isEmpty) None
          else Some(readLive(spark, s.files, s).drop("__suffix", "__pos"))
        (live(prev), live(cur)) match {
          case (None, None)    => Seq.empty
          case (None, Some(c)) => Seq(tag(c, "insert", v))
          case (Some(p), None) => Seq(tag(p, "delete", v))
          case (Some(p), Some(c)) =>
            // align across a rolled-back schema evolution (additive-only:
            // a column absent on one side NULL-patches with the other's type)
            val cols = c.columns ++ p.columns.filterNot(c.columns.contains)
            def align(df: DataFrame, other: DataFrame): DataFrame = {
              val have = df.columns.toSet
              val patched = cols.filterNot(have).foldLeft(df)((d, n) =>
                d.withColumn(n, lit(null).cast(other.schema(n).dataType)))
              patched.select(cols.map(org.apache.spark.sql.functions.col(_)): _*)
            }
            val pa = align(p, c); val ca = align(c, p)
            Seq(tag(ca.exceptAll(pa), "insert", v),
              tag(pa.exceptAll(ca), "delete", v))
        }
      }
      else {
        val prevPaths = prev.files.map(_.path).toSet
        val curPaths = cur.files.map(_.path).toSet
        val addedFiles = cur.files.filterNot(fe => prevPaths(fe.path))
        val removedFiles = prev.files.filterNot(fe => curPaths(fe.path))
        val inserts =
          if (addedFiles.isEmpty) None
          else Some(tag(sliceRead(spark, addedFiles, cur), "insert", v))
        // removed files' rows through prev's LIVE view: rows already
        // dead under a pending MoR delete at v-1 must not re-report
        val fileDeletes =
          if (removedFiles.isEmpty) None
          else Some(tag(
            if (noPendingDeletes(prev, removedFiles))
              sliceRead(spark, removedFiles, prev)
            else readLive(spark, removedFiles, prev)
              .drop("__suffix", "__pos"),
            "delete", v))
        // a position-delete commit at v: its (suffix, position) pairs
        // name the doomed physical rows exactly — fetch them from the
        // targeted files as they stood at v-1
        val posEntries = cur.deletes.filter(
          _.paths.exists(_.contains(s"/deletes/s$v/")))
        val posDeletes =
          if (posEntries.isEmpty) None
          else {
            val targets = posEntries.flatMap(_.targets.keys).toSet
            val targetFiles = prev.files.filter(fe =>
              targets(pathSuffix(fe.path)))
            val pairs = spark.read.parquet(posEntries.flatMap(_.paths): _*)
            val estBytes = posEntries.iterator.flatMap(_.targets.iterator)
              .map { case (s, n) => n * (2L * s.length + 48L) }.sum
            val pSide =
              if (estBytes <= 64L * 1024 * 1024) broadcast(pairs) else pairs
            Some(tag(readWithSuffix(spark, targetFiles, prev)
              .join(pSide, Seq("__suffix", "__pos"))
              .drop("__suffix", "__pos"), "delete", v))
          }
        // an equality-delete commit at v: pre-image rows = prev's live
        // rows matching the key tuples (every v-1 file's sequence
        // precedes v, so the sequence rule is satisfied by construction;
        // NULL key components never match — SQL equality)
        val eqEntries = cur.eqDeletes.filter(_.version == v)
        val eqDeletes =
          if (eqEntries.isEmpty || prev.files.isEmpty) None
          else {
            val live = readLive(spark, prev.files, prev)
              .drop("__suffix", "__pos")
            val doomed = eqEntries.map { e =>
              val k = spark.read.parquet(e.paths: _*)
              val kSide =
                if ((if (e.bytes > 0L) e.bytes * 4L
                     else e.rows * (48L + 32L * e.keyCols.size))
                    <= 64L * 1024 * 1024) broadcast(k) else k
              live.join(kSide,
                e.keyCols.map(c => live(c) === kSide(c)).reduce(_ && _),
                "left_semi")
            }.reduce(_.unionByName(_))
            Some(tag(doomed, "delete", v))
          }
        Seq(inserts, fileDeletes, posDeletes, eqDeletes).flatten
      }
    }
    if (parts.isEmpty)
      tag(read(spark, root, Some(toVersion)).filter(lit(false)), "insert",
        toVersion)
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Metadata-only row count — Iceberg's `count(*)` pushdown: the
   * manifest already records per-file row counts, so a full-table or
   * per-partition count is a driver-side sum over manifest entries,
   * zero data I/O. At 10^12 files this is the difference between an
   * O(manifest) answer and a full table scan. Honors time travel and
   * partition pruning; row-level predicates still need [[read]]. */
  def rowCount(spark: SparkSession, root: String,
      version: Option[Int] = None,
      partitionFilter: Map[String, String] = Map.empty): Long = {
    val snap = snapshot(spark, root, version)
    // a metadata-only count cannot evaluate a partition predicate against
    // files whose (older) spec lacks the key — loud miss over silent wrong
    partitionFilter.keys.foreach(k => require(
      snap.files.forall(_.partition.contains(k)),
      s"mixed partition specs: '$k' is absent from some files' layout — " +
        "rowCount cannot answer this filter from metadata; use read().count()"))
    val survivors = snap.files
      .filter(fe => partitionFilter.forall {
        case (k, v) => fe.partition.get(k).contains(v) })
    // legacy manifests recorded -1 (unknown); a silent wrong sum is
    // worse than a loud miss — count those tables with read().count()
    require(survivors.forall(_.rows >= 0),
      "manifest predates per-file row counts; re-commit or use read().count()")
    val sufs = survivors.map(fe => pathSuffix(fe.path)).toSet
    // pending EQUALITY deletes make metadata counts inexact (matched-row
    // counts are unknowable without a scan — the cost the zero-read
    // commit deferred); fail loud like the legacy-manifest path
    require(liveEqDeletes(snap, survivors).isEmpty,
      "pending equality deletes make metadata row counts inexact — " +
        "materializeDeletes first or use read().count()")
    // MoR position deletes: each entry records per-target deleted-row
    // counts exactly so this stays a metadata-only sum
    val pendingDeleted = snap.deletes.iterator
      .flatMap(_.targets.iterator)
      .collect { case (s, n) if sufs(s) => n }.sum
    survivors.map(_.rows).sum - pendingDeleted
  }

  /** Exact current row count that never refuses: the metadata-only
   * [[rowCount]] when it is exact, otherwise a distributed
   * `read().count()` (pending equality deletes or a legacy manifest
   * make metadata counts inexact). For callers that report a count
   * AFTER state already advanced and must not abort — e.g. the
   * quarantine loop's `remaining` field. */
  def rowCountOrScan(spark: SparkSession, root: String): Long = {
    val snap = snapshot(spark, root)
    if (snap.files.forall(_.rows >= 0) &&
        liveEqDeletes(snap, snap.files).isEmpty)
      rowCount(spark, root)
    else read(spark, root).count()
  }

  // --- row-level operations (copy-on-write) --------------------------------

  /** The snapshot-relative path `/data/sN/...` — unique across subtrees
   * (compact's partition-relative key leans on part-file UUID uniqueness;
   * the row-level operations key on something structurally unique). */
  private def pathSuffix(p: String): String = {
    val i = p.indexOf("/data/s")
    require(i >= 0, s"file $p is not under a snapshot tree")
    p.substring(i)
  }

  /** Read `files` with partition columns attached (basePath per subtree)
   * and two bookkeeping columns: `__suffix` keys every row back to its
   * manifest entry and `__pos` is the row's position within its parquet
   * file (`_metadata.row_index` — the Iceberg position-delete ordinate).
   * mergeSchema + [[alignTo]] keep rows from files written before a
   * schema evolution correct (added columns as typed NULLs), exactly
   * like the ordinary read path. Pending MoR deletes are NOT applied
   * here — use [[readLive]] for the logical row set. */
  private def readWithSuffix(spark: SparkSession, files: Seq[FileEntry],
      snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.regexp_extract
    val bySnapDir = files.groupBy(fe => fe.path.replaceAll("(/data/s\\d+)/.*$", "$1"))
    bySnapDir.map { case (basePath, fes) =>
      val raw = spark.read.option("basePath", basePath)
        .option("mergeSchema", "true")
        .parquet(fes.map(_.path): _*)
        .withColumn("__suffix",
          regexp_extract(col("_metadata.file_path"), "(/data/s\\d+/.*)$", 1))
        .withColumn("__pos", col("_metadata.row_index"))
      alignTo(raw, snap, extra = Seq("__suffix", "__pos"))
    }.reduce(_.unionByName(_))
  }

  /** The snapshot's delete entries still aimed at any of `files`. */
  private def liveDeletes(snap: Snapshot, files: Seq[FileEntry]): Seq[DeleteEntry] = {
    if (snap.deletes.isEmpty) return Seq.empty
    val sufs = files.map(fe => pathSuffix(fe.path)).toSet
    snap.deletes.filter(_.targets.keys.exists(sufs))
  }

  /** Anti-join pending position deletes out of a [[readWithSuffix]] frame
   * — the Iceberg v2 merge-on-read apply step. The delete side is
   * broadcast while the total pending-delete row count is small (the
   * overwhelmingly common case: deletes are a trickle against a huge
   * table); past the threshold it falls back to a shuffle anti-join on
   * (file, position), which AQE sizes like any other join. */
  private def applyDeletes(df: DataFrame, snap: Snapshot,
      files: Seq[FileEntry]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val rel = liveDeletes(snap, files)
    if (rel.isEmpty) return df
    val spark = df.sparkSession
    val del = spark.read.parquet(rel.flatMap(_.paths): _*)
    // broadcast gate on estimated BYTES, not rows: each delete row
    // carries its full path suffix, so the manifest's per-target
    // (suffix, count) pairs give an exact in-memory estimate (string +
    // long + row overhead). Only targets intersecting the files actually
    // being read count — entries aimed elsewhere never reach this join.
    val sufs = files.map(fe => pathSuffix(fe.path)).toSet
    val estBytes = rel.iterator.flatMap(_.targets.iterator)
      .collect { case (s, n) if sufs(s) => n * (2L * s.length + 48L) }.sum
    val delSide = if (estBytes <= 64L * 1024 * 1024) broadcast(del) else del
    df.join(delSide, Seq("__suffix", "__pos"), "left_anti")
  }

  /** A data file's snapshot sequence — the `N` of its `/data/sN/` tree.
   * Equality deletes apply only to files with a LOWER sequence than the
   * delete commit (Iceberg's sequence-number rule), so a key re-inserted
   * after the delete survives. */
  private def fileSeq(suffix: String): Int = {
    val m = "^/data/s(\\d+)/".r.findFirstMatchIn(suffix)
    require(m.isDefined, s"suffix $suffix is not under a snapshot tree")
    m.get.group(1).toInt
  }

  /** The snapshot's equality-delete entries still aimed at any of
   * `files` (some file's sequence precedes the entry). */
  private def liveEqDeletes(snap: Snapshot,
      files: Seq[FileEntry]): Seq[EqDeleteEntry] = {
    if (snap.eqDeletes.isEmpty || files.isEmpty) return Seq.empty
    val minSeq = files.iterator.map(fe => fileSeq(pathSuffix(fe.path))).min
    snap.eqDeletes.filter(_.version > minSeq)
  }

  /** Anti-join pending equality deletes out of a [[readWithSuffix]]
   * frame: each entry's key tuples drop every matching row whose data
   * file sequence precedes the delete commit. One anti-join per pending
   * entry ([[materializeDeletes]] and the CoW rewriters keep that list
   * short); broadcast gated on estimated in-memory BYTES like position
   * deletes — the manifest records each entry's on-disk parquet size,
   * decompressed here at a conservative 4x (dictionary-heavy key
   * columns expand more than the path suffixes position deletes carry);
   * legacy entries without the size fall back to a per-key width
   * estimate. NULL key components never match (SQL equality). */
  private def applyEqDeletes(df: DataFrame, snap: Snapshot,
      files: Seq[FileEntry]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, lit, regexp_extract}
    val rel = liveEqDeletes(snap, files)
    if (rel.isEmpty) return df
    val spark = df.sparkSession
    val withSeq = df.withColumn("__seq",
      regexp_extract(col("__suffix"), "^/data/s(\\d+)/", 1).cast("int"))
    rel.foldLeft(withSeq) { (acc, e) =>
      val k = spark.read.parquet(e.paths: _*)
      val estBytes =
        if (e.bytes > 0L) e.bytes * 4L
        else e.rows * (48L + 32L * e.keyCols.size)
      val kSide = if (estBytes <= 64L * 1024 * 1024) broadcast(k) else k
      val cond = e.keyCols.map(c => acc(c) === kSide(c)).reduce(_ && _) &&
        acc("__seq") < lit(e.version)
      acc.join(kSide, cond, "left_anti")
    }.drop("__seq")
  }

  /** The LOGICAL rows of `files` — [[readWithSuffix]] with pending MoR
   * position AND equality deletes applied. Every copy-on-write
   * planner/rewriter and the delete-aware read path go through this. */
  private def readLive(spark: SparkSession, files: Seq[FileEntry],
      snap: Snapshot): DataFrame =
    applyEqDeletes(
      applyDeletes(readWithSuffix(spark, files, snap), snap, files),
      snap, files)

  /** True when `files` carry NO pending delete work of either kind —
   * the plain [[sliceRead]] fast path (no metadata columns, no joins). */
  private def noPendingDeletes(snap: Snapshot, files: Seq[FileEntry]): Boolean =
    liveDeletes(snap, files).isEmpty && liveEqDeletes(snap, files).isEmpty

  /** Carry delete entries into a successor manifest: each entry keeps
   * only targets still present in `liveFiles` (a CoW rewrite applied the
   * rest) and vanishes when no target survives. Every manifest
   * construction routes through this so deleted rows can never
   * resurrect after an append/merge/compact. */
  private def carriedDeletes(deletes: Seq[DeleteEntry],
      liveFiles: Seq[FileEntry]): Seq[DeleteEntry] = {
    if (deletes.isEmpty) return Seq.empty
    val live = liveFiles.map(fe => pathSuffix(fe.path)).toSet
    deletes.map(d => d.copy(targets = d.targets.filter { case (s, _) => live(s) }))
      .filter(_.targets.nonEmpty)
  }

  /** Carry equality-delete entries: an entry survives only while some
   * live file's sequence precedes it (a CoW rewrite's output carries a
   * HIGHER sequence, so rewriting the last old file retires the entry). */
  private def carriedEqDeletes(eqDeletes: Seq[EqDeleteEntry],
      liveFiles: Seq[FileEntry]): Seq[EqDeleteEntry] = {
    if (eqDeletes.isEmpty || liveFiles.isEmpty) return Seq.empty
    val minSeq = liveFiles.iterator.map(fe => fileSeq(pathSuffix(fe.path))).min
    eqDeletes.filter(_.version > minSeq)
  }

  /**
   * Row-level DELETE — the Iceberg copy-on-write `DELETE FROM t WHERE p`
   * analog, and the operation a validation engine exists to feed: the
   * rows a checklist flags invalid get quarantined OUT of the table
   * without rewriting the other 10^12 files. Two jobs, both bounded by
   * the predicate's reach:
   *
   *  1. **plan** — scan the candidate files (manifest-pruned by
   *     `partitionFilter` when the caller can bound the predicate; parquet
   *     pushdown applies below that) for the DISTINCT files containing a
   *     match. The driver holds one path per affected FILE, never rows —
   *     the same bound as Iceberg's CoW planner.
   *  2. **rewrite** — re-read ONLY the affected files, keep every row
   *     where the predicate is not TRUE (NULL keeps the row: SQL DELETE
   *     semantics), write the survivors as a fresh snapshot subtree.
   *     Untouched files carry over by reference; a file whose every row
   *     matched simply has no successor.
   *
   * Committed as `operation = "delete"` — a data-changing snapshot, so
   * [[changesBetween]] re-delivers the rewritten survivors (at-least-once,
   * the dynamic-overwrite contract). Per-file row counts and min/max
   * stats are recomputed for rewritten files. Returns the new snapshot
   * plus the deleted-row count; a predicate matching nothing commits
   * nothing and returns the current snapshot with 0.
   */
  def deleteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      partitionFilter: Map[String, String] = Map.empty): (Snapshot, Long) = {
    import org.apache.spark.sql.functions.{collect_set, count, lit}
    requireNoPendingStage(spark, root)
    val snap = snapshot(spark, root)
    // mixed-spec rule: a file whose (older) layout lacks a filtered key
    // stays a candidate — its rows evaluate the same predicate ROW-side
    // below, so the delete's scope is exact across spec evolutions
    val candidates = snap.files.filter(fe => partitionFilter.forall {
      case (k, v) => !fe.partition.contains(k) || fe.partition(k) == v })
    if (candidates.isEmpty) return (snap, 0L)
    val scoped = partitionFilter.foldLeft(predicate) {
      case (p, (k, v)) => p && col(k) === lit(v) }
    val hit = readLive(spark, candidates, snap)
      .filter(scoped <=> lit(true))
      .agg(count(lit(1)).as("n"), collect_set(col("__suffix")).as("fs"))
      .head()
    val nDeleted = hit.getLong(0)
    if (nDeleted == 0L) return (snap, 0L)
    val affectedSuffixes = hit.getSeq[String](1).toSet
    val affected = candidates.filter(fe =>
      affectedSuffixes.contains(pathSuffix(fe.path)))
    val version = snap.version + 1
    readLive(spark, affected, snap)
      .filter(!(scoped <=> lit(true)))
      .drop("__suffix", "__pos")
      .write.partitionBy(snap.partitionCols: _*).parquet(s"$root/data/s$version")
    val statted = enumerateDelta(spark, root, version, snap.statsKinds.keys.toSeq, snap.bloomKinds.keys.toSeq)
    val gone = affected.map(_.path).toSet
    val outFiles = snap.files.filterNot(fe => gone.contains(fe.path)) ++ statted
    val out = Snapshot(version, snap.partitionCols, outFiles,
      snap.statsKinds, operation = "delete", columns = snap.columns,
      deletes = carriedDeletes(snap.deletes, outFiles),
      eqDeletes = carriedEqDeletes(snap.eqDeletes, outFiles),
      bloomKinds = snap.bloomKinds,
      partitionColTypes = snap.partitionColTypes)
    writeManifest(spark, root, out)
    (out, nDeleted)
  }

  /**
   * Row-level DELETE, merge-on-read — the Iceberg v2 position-delete
   * analog and [[deleteWhere]]'s other half: instead of REWRITING every
   * affected data file (copy-on-write — proportional to the affected
   * files' full size), write small parquet files of doomed (file,
   * position) pairs and let readers anti-join them out. At 10^12 files a
   * trickle of scattered deletes (quarantining the day's newly-flagged
   * invalid rows, GDPR erasure of a few users) touches a huge number of
   * files each holding a handful of doomed rows — CoW would rewrite
   * terabytes to delete kilobytes; MoR writes exactly the doomed
   * positions and nothing else.
   *
   * Shape: ONE job over the candidate files (manifest-pruned by
   * `partitionFilter`) filters the LIVE rows (already-pending deletes
   * compose) matching the predicate and writes their `(__suffix, __pos)`
   * pairs to `deletes/s<version>/`; one bounded aggregate over that
   * written delta records per-target deleted-row counts in the manifest
   * (what keeps [[rowCount]] metadata-only — driver state is one entry
   * per affected FILE, the same bound as the CoW planner). Readers apply
   * pending deletes with a broadcast anti-join (shuffle past a size
   * threshold); every CoW rewrite ([[deleteWhere]], [[merge]],
   * [[deleteByKeys]], [[compact]]) applies and sheds them for the files
   * it rewrites, and [[materializeDeletes]] folds them all away. NULL
   * predicate results keep the row (SQL DELETE semantics). Committed as
   * `operation = "delete"`; a predicate matching nothing commits
   * nothing. Read amplification until materialization is the standard
   * MoR trade — Iceberg's `rewrite_position_delete_files` maintenance
   * exists for exactly this reason.
   */
  def deleteWhereMoR(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      partitionFilter: Map[String, String] = Map.empty): (Snapshot, Long) = {
    import org.apache.spark.sql.functions.lit
    requireNoPendingStage(spark, root)
    val snap = snapshot(spark, root)
    // same mixed-spec rule as [[deleteWhere]]: unprunable files stay
    // candidates, the partition predicate re-applies row-side
    val candidates = snap.files.filter(fe => partitionFilter.forall {
      case (k, v) => !fe.partition.contains(k) || fe.partition(k) == v })
    if (candidates.isEmpty) return (snap, 0L)
    val scoped = partitionFilter.foldLeft(predicate) {
      case (p, (k, v)) => p && col(k) === lit(v) }
    val version = snap.version + 1
    val delDir = s"$root/deletes/s$version"
    // Overwrite: a crashed earlier attempt at this same version may have
    // left deletes/s<version> behind — it is unreferenced by construction
    // (the manifest commit below is what publishes it), same rule as a
    // stale data/sN subtree
    readLive(spark, candidates, snap)
      .filter(scoped <=> lit(true))
      .select(col("__suffix"), col("__pos"))
      .write.mode("overwrite").parquet(delDir)
    // per-target counts off the just-written delta (two slim columns,
    // bounded by the delete's own size), one row per affected file
    val perTarget = spark.read.parquet(delDir)
      .groupBy("__suffix").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nDeleted = perTarget.valuesIterator.sum
    val f = fs(spark, new Path(delDir))
    if (nDeleted == 0L) { // nothing matched: reclaim the empty write
      f.delete(new Path(delDir), true)
      return (snap, 0L)
    }
    val delFiles = f.listStatus(new Path(delDir)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    val out = Snapshot(version, snap.partitionCols, snap.files,
      snap.statsKinds, operation = "delete", columns = snap.columns,
      deletes = carriedDeletes(snap.deletes, snap.files) :+
        DeleteEntry(delFiles, perTarget),
      eqDeletes = carriedEqDeletes(snap.eqDeletes, snap.files),
      bloomKinds = snap.bloomKinds,
      partitionColTypes = snap.partitionColTypes)
    writeManifest(spark, root, out)
    (out, nDeleted)
  }

  /**
   * Key-based row-level DELETE, merge-on-read — the Iceberg v2
   * EQUALITY-delete shape and the streaming-CDC ingest primitive:
   * committing reads NOTHING (the doomed keys are written as an
   * equality-delete file and the manifest gains one entry — constant
   * metadata work no matter how large the table), where even
   * [[deleteWhereMoR]] must scan candidates to find positions. The cost
   * moves wholly to the read side: readers anti-join each pending
   * entry's keys against every data file whose snapshot SEQUENCE
   * precedes the delete commit (the Iceberg sequence-number rule — a
   * row re-inserted for the same key AFTER the delete survives, which
   * is exactly upsert-stream semantics). NULL key components never
   * match. Because nothing was scanned, matched-row counts are unknown:
   * [[rowCount]] fails loud while equality deletes pend, and
   * [[materializeDeletes]] (or any CoW rewrite of the older files)
   * folds them away. Returns the new snapshot and the DISTINCT KEY
   * count (not a row count); an empty key frame commits nothing.
   */
  def deleteByKeysMoR(keys: DataFrame, root: String,
      keyCols: Seq[String]): (Snapshot, Long) = {
    val spark = keys.sparkSession
    require(keyCols.nonEmpty, "deleteByKeysMoR needs at least one key column")
    requireNoPendingStage(spark, root)
    val snap = snapshot(spark, root)
    if (snap.columns.nonEmpty) {
      val tableCols = snap.columns.map(_._1) ++ snap.partitionCols
      keyCols.foreach(c => require(tableCols.contains(c),
        s"deleteByKeysMoR key '$c' is not a table column (${tableCols.mkString(", ")})"))
    }
    val version = snap.version + 1
    val delDir = s"$root/deletes/s$version"
    // NULL key components never match (SQL equality) — drop such tuples.
    // Overwrite: a crashed earlier attempt may have left this
    // (unreferenced-until-commit) directory behind
    keys.select(keyCols.map(col): _*)
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .distinct()
      .write.mode("overwrite").parquet(delDir)
    val f = fs(spark, new Path(delDir))
    val nKeys = spark.read.parquet(delDir).count()
    if (nKeys == 0L) { // nothing to delete: reclaim the empty write
      f.delete(new Path(delDir), true)
      return (snap, 0L)
    }
    val delStatuses = f.listStatus(new Path(delDir)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val delFiles = delStatuses.map(_.getPath.toString)
    val delBytes = delStatuses.map(_.getLen).sum
    val out = Snapshot(version, snap.partitionCols, snap.files,
      snap.statsKinds, operation = "delete", columns = snap.columns,
      deletes = carriedDeletes(snap.deletes, snap.files),
      eqDeletes = carriedEqDeletes(snap.eqDeletes, snap.files) :+
        EqDeleteEntry(delFiles, keyCols, version, nKeys, delBytes),
      bloomKinds = snap.bloomKinds,
      partitionColTypes = snap.partitionColTypes)
    writeManifest(spark, root, out)
    (out, nKeys)
  }

  /**
   * Fold every pending merge-on-read position delete into the data —
   * the Iceberg `rewrite_position_delete_files`/major-compaction step
   * that caps MoR read amplification: rewrite ONLY the targeted data
   * files with their deletes applied (one distributed job), drop all
   * delete entries, and commit as `operation = "replace"` (logical
   * content is unchanged — [[changesBetween]] unwinds it like any
   * compaction). A table with no pending deletes returns unchanged.
   */
  def materializeDeletes(spark: SparkSession, root: String): Snapshot = {
    requireNoPendingStage(spark, root)
    val snap = snapshot(spark, root)
    val maxEqVersion = snap.eqDeletes.map(_.version).maxOption.getOrElse(0)
    val targeted = snap.files.filter { fe =>
      val suf = pathSuffix(fe.path)
      snap.deletes.exists(_.targets.contains(suf)) ||
        fileSeq(suf) < maxEqVersion // equality deletes hit every older file
    }
    if (targeted.isEmpty) return snap
    val version = snap.version + 1
    readLive(spark, targeted, snap)
      .drop("__suffix", "__pos")
      .write.partitionBy(snap.partitionCols: _*).parquet(s"$root/data/s$version")
    val statted = enumerateDelta(spark, root, version, snap.statsKinds.keys.toSeq, snap.bloomKinds.keys.toSeq)
    val gone = targeted.map(_.path).toSet
    val out = Snapshot(version, snap.partitionCols,
      snap.files.filterNot(fe => gone.contains(fe.path)) ++ statted,
      snap.statsKinds, operation = "replace", columns = snap.columns,
      deletes = Seq.empty, eqDeletes = Seq.empty,
      bloomKinds = snap.bloomKinds,
      partitionColTypes = snap.partitionColTypes)
    writeManifest(spark, root, out)
    out
  }

  /** Closed-interval intersection test in the committed stats kind's
   * ordering — shared by [[read]]'s rangeFilter and [[merge]]'s
   * delta-bounds pruning. */
  private def boundsIntersect(kind: String, fLo: String, fHi: String,
      lo: String, hi: String): Boolean = kind match {
    case "long" => !(fHi.toLong < lo.toLong || fLo.toLong > hi.toLong)
    case _ => !(fHi < lo || fLo > hi)
  }

  /** Driver-side xxhash64 of an equality-probe value, matching EXACTLY
   * what [[enumerateDelta]] fed the per-file Bloom (integrals
   * canonicalized to long; Spark's default seed) — evaluated via the
   * Catalyst expression itself so the two can never drift. */
  private def probeHash(kind: String, value: String): Long =
    graft.functions.BloomKeysAgg.probeHash(kind, value)

  /** Manifest-side candidate pruning against a key frame's min/max bounds
   * (one key-frame-scale aggregate, zero table I/O) — shared by [[merge]]
   * and [[deleteByKeys]]. Keys without committed stats don't prune. */
  private def pruneByKeyBounds(snap: Snapshot, keyFrame: DataFrame,
      keyCols: Seq[String]): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.{max, min}
    val stattedKeys = keyCols.filter(snap.statsKinds.contains)
    if (stattedKeys.isEmpty) snap.files else {
      val aggs = stattedKeys.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"__lo_$c"),
        max(col(c)).cast("string").as(s"__hi_$c")))
      val b = keyFrame.agg(aggs.head, aggs.tail: _*).head()
      snap.files.filter(fe => stattedKeys.forall { c =>
        val lo = b.getAs[String](s"__lo_$c"); val hi = b.getAs[String](s"__hi_$c")
        if (lo == null || hi == null) true // all-NULL key column: no bound
        else fe.stats.get(c) match {
          case None => true
          case Some((fLo, fHi)) => boundsIntersect(snap.statsKinds(c), fLo, fHi, lo, hi)
        }
      })
    }
  }

  /**
   * Key-based row-level DELETE — [[deleteWhere]] with a key FRAME instead
   * of a predicate, for when the doomed rows are identified by another
   * dataset (a quarantine batch merged back home, a GDPR erasure list)
   * rather than an expression. Same copy-on-write bounds as [[merge]]:
   * manifest-side key-bounds pruning, ONE broadcast-semi-join pass that
   * both counts the matches and collects the distinct affected files,
   * anti-join rewrite of only those files. NULL key components never
   * match (SQL equality). Returns the new snapshot and the deleted-row
   * count; an empty or non-matching key frame commits nothing.
   */
  def deleteByKeys(keys: DataFrame, root: String,
      keyCols: Seq[String]): (Snapshot, Long) = {
    import org.apache.spark.sql.functions.{broadcast, collect_set, count, lit}
    val spark = keys.sparkSession
    require(keyCols.nonEmpty, "deleteByKeys needs at least one key column")
    requireNoPendingStage(spark, root)
    val snap = snapshot(spark, root)
    if (snap.columns.nonEmpty) {
      val tableCols = snap.columns.map(_._1) ++ snap.partitionCols
      keyCols.foreach(c => require(tableCols.contains(c),
        s"deleteByKeys key '$c' is not a table column (${tableCols.mkString(", ")})"))
    }
    val k = keys.select(keyCols.map(col): _*).distinct()
    val candidates = pruneByKeyBounds(snap, k, keyCols)
    if (candidates.isEmpty) return (snap, 0L)
    val hit = readLive(spark, candidates, snap)
      .join(broadcast(k), keyCols, "left_semi")
      .agg(count(lit(1)).as("n"), collect_set(col("__suffix")).as("fs"))
      .head()
    val nDeleted = hit.getLong(0)
    if (nDeleted == 0L) return (snap, 0L)
    val affectedSuffixes = hit.getSeq[String](1).toSet
    val affected = candidates.filter(fe =>
      affectedSuffixes.contains(pathSuffix(fe.path)))
    val version = snap.version + 1
    readLive(spark, affected, snap)
      .join(broadcast(k), keyCols, "left_anti")
      .drop("__suffix", "__pos")
      .write.partitionBy(snap.partitionCols: _*).parquet(s"$root/data/s$version")
    val statted = enumerateDelta(spark, root, version, snap.statsKinds.keys.toSeq, snap.bloomKinds.keys.toSeq)
    val gone = affected.map(_.path).toSet
    val outFiles = snap.files.filterNot(fe => gone.contains(fe.path)) ++ statted
    val out = Snapshot(version, snap.partitionCols, outFiles,
      snap.statsKinds, operation = "delete", columns = snap.columns,
      deletes = carriedDeletes(snap.deletes, outFiles),
      eqDeletes = carriedEqDeletes(snap.eqDeletes, outFiles),
      bloomKinds = snap.bloomKinds,
      partitionColTypes = snap.partitionColTypes)
    writeManifest(spark, root, out)
    (out, nDeleted)
  }

  /**
   * Key-based MERGE (upsert) — the Iceberg copy-on-write
   * {{{ MERGE INTO t USING delta ON t.k = delta.k
   *     WHEN MATCHED THEN UPDATE * WHEN NOT MATCHED THEN INSERT * }}}
   * analog: corrected rows replace their key's current row, new keys
   * append — the write side of a fix-and-revalidate loop. Shape, in
   * order of what bounds what:
   *
   *  - delta keys with multiple rows fail fast (one cheap delta-scale
   *    aggregate) — Iceberg MERGE raises the same ambiguity error;
   *  - when the table committed min/max stats on a key column, the
   *    candidate file set is pruned MANIFEST-SIDE against the delta's
   *    key bounds (one delta-scale aggregate) before any table I/O — a
   *    sorted/z-ordered table turns a small-delta merge into a
   *    few-file rewrite;
   *  - **plan**: one semi-join of the candidate files against the
   *    (broadcast) delta key set finds the DISTINCT files holding a
   *    matching key — driver state is one path per affected file;
   *  - **rewrite**: affected-file rows anti-join the same broadcast key
   *    set (matched rows drop), the delta unions in (updates + inserts
   *    in one pass), and the result writes as a fresh subtree; untouched
   *    files carry by reference.
   *
   * NULL semantics follow SQL equality: a NULL key component never
   * matches, so such delta rows insert and such table rows survive.
   * Committed as `operation = "merge"` (data-changing, at-least-once for
   * incremental consumers). The delta must carry exactly the table's
   * columns — MERGE is not schema evolution.
   */
  def merge(delta: DataFrame, root: String, keyCols: Seq[String]): Snapshot = {
    import org.apache.spark.sql.functions.{broadcast, collect_set, count, lit, max, min}
    val spark = delta.sparkSession
    require(keyCols.nonEmpty, "merge needs at least one key column")
    requireNoPendingStage(spark, root)
    val snap = snapshot(spark, root)
    val tableCols: Seq[String] =
      if (snap.columns.nonEmpty) snap.columns.map(_._1) ++ snap.partitionCols
      else readWithSuffix(spark, snap.files.take(1), snap)
        .drop("__suffix", "__pos").columns.toSeq
    keyCols.foreach(k => require(tableCols.contains(k),
      s"merge key '$k' is not a table column (${tableCols.mkString(", ")})"))
    require(delta.columns.toSet == tableCols.toSet,
      s"merge delta columns ${delta.columns.sorted.mkString(", ")} != table " +
        s"columns ${tableCols.sorted.mkString(", ")} — MERGE is not schema evolution")
    if (snap.columns.nonEmpty) {
      val declared = snap.columns.toMap
      val retyped = delta.schema.fields.collect {
        case f if declared.get(f.name).exists(_ != f.dataType.catalogString) =>
          s"${f.name}: ${declared(f.name)} -> ${f.dataType.catalogString}" }
      require(retyped.isEmpty,
        s"merge delta retypes table columns: ${retyped.mkString(", ")}")
    }
    // NULL-key rows are excluded: a NULL key component never matches a
    // table row (SQL equality), so several such rows are independent
    // inserts, not an ambiguous upsert
    val dup = delta
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"merge delta has multiple rows for key ${dup.head.toSeq.init.mkString("(", ", ", ")")} — upsert is ambiguous")

    val candidates = pruneByKeyBounds(snap, delta, keyCols)

    val keys = delta.select(keyCols.map(col): _*).distinct()
    val affectedSuffixes: Set[String] =
      if (candidates.isEmpty) Set.empty
      else readLive(spark, candidates, snap)
        .join(broadcast(keys), keyCols, "left_semi")
        .agg(collect_set(col("__suffix")).as("fs"))
        .head().getSeq[String](0).toSet
    val affected = candidates.filter(fe =>
      affectedSuffixes.contains(pathSuffix(fe.path)))

    val version = snap.version + 1
    val deltaAligned = delta.select(tableCols.map(col): _*)
    val rewritten =
      if (affected.isEmpty) deltaAligned
      else readLive(spark, affected, snap).drop("__suffix", "__pos")
        .join(broadcast(keys), keyCols, "left_anti")
        .unionByName(deltaAligned)
    rewritten.write.partitionBy(snap.partitionCols: _*)
      .parquet(s"$root/data/s$version")
    val statted = enumerateDelta(spark, root, version, snap.statsKinds.keys.toSeq, snap.bloomKinds.keys.toSeq)
    val gone = affected.map(_.path).toSet
    val outFiles = snap.files.filterNot(fe => gone.contains(fe.path)) ++ statted
    val out = Snapshot(version, snap.partitionCols, outFiles,
      snap.statsKinds, operation = "merge", columns = snap.columns,
      deletes = carriedDeletes(snap.deletes, outFiles),
      eqDeletes = carriedEqDeletes(snap.eqDeletes, outFiles),
      bloomKinds = snap.bloomKinds,
      partitionColTypes = snap.partitionColTypes)
    writeManifest(spark, root, out)
    out
  }

  /** The distinct partition values of a snapshot — CheckpointRunner's
   * partition discovery from pure metadata (no listing, no scan). */
  def partitions(spark: SparkSession, root: String,
      version: Option[Int] = None): Seq[Map[String, String]] =
    snapshot(spark, root, version).files.map(_.partition).distinct
      .sortBy(_.toSeq.sortBy(_._1).map(t => s"${t._1}=${t._2}").mkString(","))
}
