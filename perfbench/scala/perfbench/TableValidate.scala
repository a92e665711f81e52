package perfbench

import org.apache.spark.sql.DataFrame

import graft.Bench
import graft.compile.ChecklistCompiler
import graft.engine.Validator
import graft.run.CheckpointRunner
import graft.sources.{CodeFiles, SnapshotTable}

/**
 * `table_validate`: full `CheckpointRunner.run`s over a snapshot table of
 * `CodeFiles.generate(spark, rows, seed)` rows partitioned on `lang`,
 * each writing validated rows, violation rows and the lineage manifest to
 * fresh directories.
 *
 * Traced, it also times the layer ladder: cumulative rungs over the same
 * snapshot input, each driven to a `noop` sink unless stated, so each
 * rung's increment over the previous one is that layer's busy time; and
 * it profiles the manifest CLI ([[ManifestCli]]).
 */
object TableValidate {
  import BenchMain._

  val PartitionCol = "lang"
  val LadderReps = 3
  val WarmRows = 20000L

  def config(ctx: Ctx, table: String, dir: String): CheckpointRunner.Config =
    CheckpointRunner.Config(table, PartitionCol, s"$dir/validated",
      s"$dir/violations", s"$dir/manifest", rowIdCol = Some("id"),
      contentCol = Some("content"))

  def run(ctx: Ctx): Seq[(String, Any)] = {
    val spark = ctx.spark
    val rows = ctx.opt("rows").toLong
    val table = ctx.path("table")
    // a full run over a small table absorbs class loading, code generation
    // and JIT compilation of both the per-row code and the per-partition
    // jobs, so the big table's commit and runs start warm
    val (_, warmS) = seconds {
      val warmTable = ctx.path("warm_table")
      SnapshotTable.commit(CodeFiles.generate(spark, WarmRows, ctx.seed + 1),
        warmTable, Seq(PartitionCol))
      CheckpointRunner.run(spark, CodeFiles.checklist,
        config(ctx, warmTable, ctx.path("warm")))
    }
    val (snap, prepS) = seconds {
      SnapshotTable.commit(CodeFiles.generate(spark, rows, ctx.seed), table,
        Seq(PartitionCol))
    }
    def checkpointOp(dir: String): Seq[(String, Any)] = {
      val res = ctx.tracer.span("run.checkpoint") {
        CheckpointRunner.run(spark, CodeFiles.checklist, config(ctx, table, dir))
      }
      Seq("dir" -> dir, "partitions" -> res.size,
        "rows" -> res.map(_.nRows).sum,
        "invalid" -> res.map(_.nInvalid).sum,
        "violations" -> res.map(_.nViolations).sum)
    }
    val (firstOpMs, samples) =
      timedLoop(ctx.seconds)(i => checkpointOp(ctx.path(s"op$i")))
    val (layers, cliSamples) =
      if (!ctx.trace) (Map.empty[String, Any], Seq.empty)
      else {
        ctx.tracer.activate()
        checkpointOp(ctx.path("traced"))
        val ladderLayers = ladder(ctx, table)
        val (cli, cliLayers) = ManifestCli.profile(ctx)
        (ladderLayers ++ cliLayers, cli)
      }
    Seq("first_op_ms" -> firstOpMs, "prep_s" -> prepS, "warmup_s" -> warmS,
      "rows" -> rows, "table" -> table,
      "input_bytes" -> snap.files.map(_.bytes).sum,
      "partitions" -> snap.files.flatMap(_.partition.get(PartitionCol)).distinct.size,
      "samples" -> samples, "layers" -> layers, "cli_samples" -> cliSamples)
  }

  /** Per-layer busy times from cumulative rungs, and the overhead of a
   * `CheckpointRunner.run` beyond them, with its scheduler counts. */
  def ladder(ctx: Ctx, table: String): Map[String, Any] = {
    val spark = ctx.spark
    val t = ctx.tracer
    val checklist = CodeFiles.checklist
    val ladderOut = ctx.path("ladder/validated")
    val ladderViol = ctx.path("ladder/violations")
    def input(): DataFrame = SnapshotTable.read(spark, table)
    val byId = Validator.Options(rowIdCol = Some("id"))
    val withSha = byId.copy(contentCol = Some("content"))
    val rungs: Seq[(String, () => Unit)] = Seq(
      "ladder.scan" -> (() => noop(input())),
      "ladder.field_states" -> { () =>
        val df = input()
        val states = ChecklistCompiler.compile(checklist).states
          .map { case (n, c) => c.as(s"state_$n") }
        noop(df.select(df.columns.map(df.col).toSeq ++ states: _*))
      },
      "ladder.violations" -> (() =>
        noop(Validator.validate(input(), checklist, byId).drop(Validator.ErrorCol))),
      "ladder.error_string" -> (() =>
        noop(Validator.validate(input(), checklist, byId))),
      "ladder.sha256" -> (() =>
        noop(Validator.validate(input(), checklist, withSha))),
      "ladder.parquet_write" -> (() =>
        Validator.validate(input(), checklist, withSha)
          .write.mode("overwrite").parquet(ladderOut)),
      "ladder.violation_rows" -> (() =>
        Validator.violationRows(spark.read.parquet(ladderOut))
          .write.mode("overwrite").parquet(ladderViol)))
    // interleaved repetitions, so drift over the run spreads evenly
    for (_ <- 1 to LadderReps; (name, f) <- rungs) t.span(name)(f())

    for (_ <- 1 to LadderReps) t.span("sources.snapshot_plan") {
      SnapshotTable.partitions(spark, table).flatMap(_.get(PartitionCol))
        .foreach(p => SnapshotTable.read(spark, table,
          partitionFilter = Map(PartitionCol -> p)).schema)
    }
    // Bench's count-style aggregate, where Catalyst prunes the error
    // string and sha256: ties this benchmark to the historical records
    val dataDir = new java.io.File(s"$table/data").listFiles()
      .filter(_.isDirectory).map(_.getPath).sorted.last
    for (_ <- 1 to LadderReps)
      t.span("engine.count_style")(Bench.validatePlan(spark, dataDir).collect())

    def med(name: String): Double = median(t.seconds(name))
    val rung = rungs.map(_._1).map(n => n -> med(n)).toMap
    val ckptS = med("run.checkpoint")
    Map(
      "sources.snapshot_plan_ms" -> med("sources.snapshot_plan") * 1000,
      "sources.scan_s" -> rung("ladder.scan"),
      "functions.field_states_s" -> (rung("ladder.field_states") - rung("ladder.scan")),
      "engine.violations_s" -> (rung("ladder.violations") - rung("ladder.field_states")),
      "engine.error_string_s" -> (rung("ladder.error_string") - rung("ladder.violations")),
      "functions.sha256_s" -> (rung("ladder.sha256") - rung("ladder.error_string")),
      "run.parquet_write_s" -> (rung("ladder.parquet_write") - rung("ladder.sha256")),
      "engine.violation_rows_s" -> rung("ladder.violation_rows"),
      "run.checkpoint_overhead_s" ->
        (ckptS - rung("ladder.parquet_write") - rung("ladder.violation_rows")),
      "engine.count_style_s" -> med("engine.count_style"),
      "trace.op_p50_ms" -> ckptS * 1000,
      "counts" -> t.meanCounts("run.checkpoint"))
  }
}
