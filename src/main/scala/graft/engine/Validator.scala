package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}

import graft.compile.ChecklistCompiler
import graft.model.Checklist

/**
 * The engine's core entry point: validate a DataFrame against a compiled
 * checklist in one narrow pass — the Spark-native replacement for the
 * reference's row-at-a-time `validate` loop
 * (reference: lib/Bio/Metadata/Validator.pm:109-156). A first projection
 * evaluates every rule once into the failure mask
 * ([[graft.compile.ChecklistCompiler.Compiled.masks]]); a second derives
 * `passed`, `violations` and `error` from its bits and drops it, building
 * the array and the string only for rows that fail.
 *
 * Output schema = input columns + `row_id` (taken from the input, see
 * [[Options.rowIdCol]]; never synthesized), `violations`
 * (array<struct<field,rule_id,message>>), `passed`, `error`
 * (reference-format accumulated message, NULL when passed) and optionally
 * `content_sha256` (the per-row identity invariant generalizing the
 * reference's whole-file MD5, Reader.pm:86-88, per BASELINE.json input_hint).
 *
 * No shuffle is introduced: both projections are whole-stage-codegen'd
 * into one stage, pipelined with the scan; filters/pruning still push
 * down past them.
 */
object Validator {

  final case class Options(
      /** Column copied to `row_id`, the row identity in messages and
       * violation rows. None = the input already has a `row_id` column, as
       * [[graft.sources.ManifestReader]]'s 1-based manifest row numbers;
       * an input with neither fails at analysis, naming `row_id`. */
      rowIdCol: Option[String] = None,
      /** Column to fingerprint with sha256 (input_hint invariant). */
      contentCol: Option[String] = None,
      verboseErrors: Boolean = false
  )

  val RowId = "row_id"
  val ViolationsCol = "violations"
  val PassedCol = "passed"
  val ErrorCol = "error"
  val ShaCol = "content_sha256"
  private val ViolSchema = "struct<field:string,rule_id:string,message:string>"

  def validate(df: DataFrame, checklist: Checklist,
      opts: Options = Options()): DataFrame = {
    val compiled = ChecklistCompiler.compile(checklist, opts.verboseErrors)

    val withId = opts.rowIdCol.fold(df)(c => df.withColumn(RowId, col(c)))

    // the failure mask, projected once; everything below reads its bits
    val masks = compiled.masks
    val maskCols = masks.indices.map(w => s"graft_fail_mask_$w")
    val masked = withId.select(withId.columns.map(col).toSeq ++
      masks.zip(maskCols).map { case (m, n) => m.as(n) }: _*)
    val words = maskCols.map(col)
    def fired(i: Int): Column = ChecklistCompiler.fired(words, i)
    val failed = words.map(_ =!= 0L).reduceOption(_ || _).getOrElse(lit(false))
    val rules = compiled.rules.zipWithIndex

    // array<struct<field,rule_id,message>> in reference emission order;
    // a passing row's empty array has the same type, element nullability
    // included
    val none = array().cast(ArrayType(DataType.fromDDL(ViolSchema), containsNull = false))
    val violations = when(failed, array_compact(array(rules.map { case (r, i) =>
      when(fired(i), struct(lit(r.field).as("field"), lit(r.ruleId).as("rule_id"),
        r.message.as("message"))).otherwise(lit(null).cast(ViolSchema))
    }: _*))).otherwise(none)
    // Reference-format accumulated error string `[errors found on row N] ...`
    // (reference: Validator.pm:136-145 — messages concatenated with their
    // original padding, then trimmed and prefixed; inner double-spaces
    // between field- and dependency-level messages are faithfully
    // preserved). NULL when the row passes.
    val error = when(failed, concat(lit("[errors found on row "),
      col(RowId).cast(StringType), lit("] "), trim(concat(rules.map { case (r, i) =>
        when(fired(i), concat(lit(r.paddedBefore), r.message, lit(r.paddedAfter)))
          .otherwise(lit(""))
      }: _*))))
    // per-row identity via the Sha256Hex kernel: value-identical to
    // sha2(.., 256) but without the per-row MessageDigest.getInstance —
    // sha runs on EVERY validated row, so its allocations set the
    // 32-thread ceiling just like RLike's Matcher did (round 2)
    val shaCols: Seq[Column] = opts.contentCol.toSeq.map(c =>
      graft.functions.Sha256Hex.column(col(c).cast(StringType)).as(ShaCol))

    masked.select((withId.columns.map(col).toSeq :+ violations.as(ViolationsCol)) ++
      shaCols ++ Seq((!failed).as(PassedCol), error.as(ErrorCol)): _*)
  }

  /** Exploded structured violation rows `(row_id, field, rule_id, message)`
   * per the north_star output contract, then the `keep` columns. No filter
   * (`!passed`, or the `size(..) > 0` Spark infers for an exploded
   * attribute): one is pushed below the projection that builds the array,
   * and builds it again. */
  def violationRows(validated: DataFrame, keep: String*): DataFrame =
    validated
      .select(col(RowId) +: keep.map(col) :+
        explode(when(!col(PassedCol), col(ViolationsCol))).as("v"): _*)
      .select(Seq(col(RowId), col("v.field").as("field"),
        col("v.rule_id").as("rule_id"), col("v.message").as("message")) ++
        keep.map(col): _*)

  /** Validated-manifest CSV projection (reference: Manifest.pm:326-402
   * `get_csv`/`_get_csv_rows`): the checklist's columns in order plus the
   * accumulated error message appended as an extra trailing column (empty
   * string when the row passed, as the reference emits no cell content);
   * `invalidOnly` keeps only rows that have errors (Manifest.pm:391-396).
   * Rows come back in the input's partition order, which for
   * [[graft.sources.ManifestReader]]'s frame is manifest order; nothing
   * re-sorts them, so `coalesce(1)` keeps it. Write with
   * `.write.option("header", true).csv(path)` for the reference's
   * header-first file shape. */
  def manifestCsv(validated: DataFrame, checklist: Checklist,
      invalidOnly: Boolean = false): DataFrame = {
    val base = if (invalidOnly) validated.filter(!col(PassedCol)) else validated
    base.select(checklist.fieldNames.map(col) :+
      coalesce(col(ErrorCol), lit("")).as("errors"): _*)
  }

  /** Count of invalid rows (reference: Manifest.pm:288-302). */
  def invalidRowCount(validated: DataFrame): Long =
    validated.filter(!col(PassedCol)).count()

  /** Validation report wording of the reference CLI
   * (reference: Validator.pm:170-189; exit code bin/validate_manifest:76). */
  def report(name: String, invalidRows: Long): (String, Int) =
    if (invalidRows == 0) (s"'$name' is valid", 0)
    else (s"'$name' is invalid. Found $invalidRows invalid rows", 1)
}
