package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.FieldType
import graft.compile.ChecklistCompiler.{isEmptyCell, stripQuotes, typePredicate}

/**
 * Constraint DISCOVERY — the profile-driven complement to the checklist
 * engine's declared rules (the reference's checklists are hand-written,
 * `environmental_checklist.conf`; at 10^12 rows nobody hand-writes the
 * first draft). Three classic data-quality checks from the published
 * Deequ family (Schelter et al., "Automating Large-Scale Data Quality
 * Verification", VLDB 2018):
 *
 *  - inclusion dependency (containment): is A.x ⊆ B.y, and how badly not —
 *    the discovery form of [[Referential]]'s declared-FK check;
 *  - functional dependency violations: does `determinant → dependent` hold,
 *    listing the violating determinant groups;
 *  - constraint suggestion: profile every column in ONE aggregate pass and
 *    emit the checklist rules the data currently satisfies (not-null,
 *    unique, enum membership, numeric range, completeness floor) — the
 *    machine-written first draft of the reference's checklist config.
 *
 * Scale shape: all three are single-shuffle aggregations with map-side
 * partial combine; nothing collects unbounded state to the driver (the one
 * bounded collect is the enum value list, gated to `enumMaxCard` values by
 * a `limit`). The exact profile pass uses one multi-column COUNT DISTINCT
 * (Catalyst expands to n_cols grouping sets — one pass, wider shuffle); the
 * `approxDistinct` mode swaps in HLL sketches for the 100 TB profile where
 * a ±2% distinct count changes no suggested rule except `unique`, which it
 * then refuses to suggest (approximate uniqueness is not a constraint).
 */
object ConstraintDiscovery {

  /**
   * Inclusion-dependency stats: one row summarizing how much of
   * `fact.factKey`'s distinct non-null value set is contained in
   * `dim.dimKey` (NULLs are completeness's concern, not containment's —
   * the reference's empty-cell skip semantics, Validator.pm).
   *
   * Plan: distinct on each side (partial-aggregated map-side), then a
   * LEFT ANTI join of fact-distinct against dim-distinct. The dim side is
   * broadcast when `broadcastDim` (the declared-FK case: dimensions fit);
   * past broadcast scale it falls back to a shuffled anti-join on the key
   * — both sides already distinct, so the shuffle moves value SETS, not
   * rows. Output: (n_distinct, n_missing, coefficient) where coefficient
   * is the standard inclusion coefficient |A ∩ B| / |A|, rounded to 6.
   */
  def inclusionStats(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String,
      broadcastDim: Boolean = true): DataFrame = {
    val a = fact.filter(col(factKey).isNotNull).select(col(factKey)).distinct()
    val d0 = dim.filter(col(dimKey).isNotNull)
      .select(col(dimKey).as(factKey)).distinct()
    val d = if (broadcastDim) broadcast(d0) else d0
    val missing = a.join(d, Seq(factKey), "left_anti")
      .agg(count(lit(1)).as("n_missing"))
    val total = a.agg(count(lit(1)).as("n_distinct"))
    total.crossJoin(missing).select(
      col("n_distinct"), col("n_missing"),
      round((col("n_distinct") - col("n_missing")) /
        when(col("n_distinct") === 0, lit(1)).otherwise(col("n_distinct")), 6)
        .as("coefficient"))
  }

  /**
   * Functional-dependency violations: groups of `determinant` columns whose
   * rows carry MORE than one distinct `dependent` value — the FD
   * `determinant → dependent` fails exactly on these groups. One shuffle on
   * the determinant; `countDistinct` partial-aggregates map-side. NULL
   * dependents don't count as a value (SQL semantics, both engines).
   * A determinant group that is entirely-NULL in `dependent` has 0 distinct
   * values and never violates.
   */
  def fdViolations(df: DataFrame, determinant: Seq[String], dependent: String): DataFrame =
    df.groupBy(determinant.map(col): _*)
      .agg(countDistinct(col(dependent)).as("n_dependent"),
        count(lit(1)).as("n_rows"))
      .filter(col("n_dependent") > 1)

  /**
   * Profile-driven constraint suggestion (Deequ's ConstraintSuggestion,
   * restated): ONE aggregate pass computes per-column (rows, non-nulls,
   * distincts, min, max), then deterministic rules fire:
   *
   *  - `not_null`       — no NULLs observed;
   *  - `unique`         — not_null AND every value distinct (refused under
   *                       `approxDistinct`: a sketch can't certify it);
   *  - `completeness`   — NULLs observed: suggest the per-mille floor the
   *                       data currently clears (`completeness>=997/1000`)
   *                       — integer detail, so the string is engine-stable;
   *  - `enum`           — string column with ≤ `enumMaxCard` distinct
   *                       values: suggest membership in the sorted value
   *                       list (this is the reference's Enum plugin,
   *                       machine-derived). Values ride the SAME profiling
   *                       pass via a capped distinct collect
   *                       ([[graft.functions.CappedDistinctStrings]] —
   *                       bounded buffer, O(1) once overflowed), so no
   *                       per-candidate rescan;
   *  - `range`          — integral column: suggest `[min,max]` (the
   *                       reference's Int min/max rule). Fractional
   *                       columns are skipped: float-to-string formatting
   *                       is engine-specific, and a float range constraint
   *                       belongs to [[ColumnStats]]'s typed stats anyway.
   *
   * Output: (column, rule, detail) sorted by (column, rule) — directly
   * convertible into a [[graft.model.Checklist]] first draft.
   */
  def suggestConstraints(df: DataFrame, enumMaxCard: Int = 16,
      approxDistinct: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(enumMaxCard >= 1, s"enumMaxCard must be >= 1, got $enumMaxCard")

    val cols = df.schema.fields
    val aggs = cols.flatMap { f =>
      val c = col(f.name)
      val dCount =
        if (approxDistinct) approx_count_distinct(c).as(s"${f.name}__distinct")
        else countDistinct(c).as(s"${f.name}__distinct")
      Seq(count(c).as(s"${f.name}__nonnull"), dCount) ++ (f.dataType match {
        case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
          Seq(min(c).cast(StringType).as(s"${f.name}__min"),
            max(c).cast(StringType).as(s"${f.name}__max"))
        case _: StringType =>
          // same pass also carries the capped sorted value list, so an Enum
          // suggestion never needs a second scan (and its non-NULL-ness is
          // the EXACT cardinality certificate the approx sketch can't give)
          Seq(graft.functions.CappedDistinctStrings.collect(c, enumMaxCard)
            .as(s"${f.name}__vals"))
        case _ => Nil
      })
    } :+ count(lit(1)).as("__rows")
    val prof = df.agg(aggs.head, aggs.tail: _*).collect()(0)

    val nRows = prof.getAs[Long]("__rows")
    val out = cols.flatMap { f =>
      val nonNull = prof.getAs[Long](s"${f.name}__nonnull")
      val distinct = prof.getAs[Long](s"${f.name}__distinct")
      val notNull = nonNull == nRows
      val rules = Seq.newBuilder[(String, String, String)]
      if (notNull) rules += ((f.name, "not_null", ""))
      else {
        val perMille = math.floor(nonNull * 1000.0 / nRows).toLong
        rules += ((f.name, "completeness", s"completeness>=$perMille/1000"))
      }
      if (!approxDistinct && notNull && distinct == nonNull && nRows > 0)
        rules += ((f.name, "unique", ""))
      if (f.dataType == StringType && distinct <= enumMaxCard && distinct > 0) {
        // approxDistinct can under-count past the gate; the capped collect
        // is the exact certificate (NULL would mean truly > enumMaxCard).
        val vals = prof.getAs[scala.collection.Seq[String]](s"${f.name}__vals")
        if (vals != null)
          rules += ((f.name, "enum", vals.mkString("|")))
      }
      f.dataType match {
        case _: ByteType | _: ShortType | _: IntegerType | _: LongType if nonNull > 0 =>
          val lo = prof.getAs[String](s"${f.name}__min")
          val hi = prof.getAs[String](s"${f.name}__max")
          rules += ((f.name, "range", s"[$lo,$hi]"))
        case _ =>
      }
      rules.result()
    }
    out.sortBy(r => (r._1, r._2)).toSeq.toDF("column", "rule", "detail")
  }

  /** One inferred field: the reference plugin type, whether every cell was
   * present (→ `required`), and the human detail (`[min,max]` / enum list). */
  final case class InferredField(name: String, ftype: FieldType,
      required: Boolean) {
    def typeName: String = ftype.typeName
    def detail: String = ftype match {
      case FieldType.IntT(Some(lo), Some(hi)) => s"[$lo,$hi]"
      case FieldType.EnumT(values)            => values.mkString("|")
      case _                                   => ""
    }
  }

  /**
   * Checklist INFERENCE — discover, from the data alone, the checklist the
   * reference's curator would have hand-written (the reference ships only
   * hand-authored configs, `environmental_checklist.conf`; this is the
   * machine-written first draft at engine scale). Every column is profiled
   * through the validator's OWN lens — raw cell cast to string, one pair of
   * wrapping quotes stripped, empty/blank cells excluded — so an inferred
   * rule is exactly a rule the validator would find satisfied.
   *
   * ONE aggregate pass per call (map-side combined; no per-column jobs)
   * computes, per column: empty-cell count, and over the non-empty stripped
   * values the Bool-shape / Int-shape / ISO-8601 match counts (the SAME
   * codegen predicates the compiled checklist runs, [[typePredicate]]),
   * distinct count, and Int-cast min/max. Type priority, most specific
   * wins, mirroring the reference plugin hierarchy:
   *
   *   Bool  — every non-empty value matches the Bool alternation;
   *   Int   — every non-empty value is an integer literal (bounds attached
   *           when they fit in Long; 19+-digit corpora get an unbounded Int);
   *   DateTime — every non-empty value is strict ISO-8601;
   *   Enum  — at most `enumMaxCard` distinct values. The cardinality test
   *           AND the value list come from the SAME pass via
   *           [[graft.functions.CappedDistinctStrings]] (non-NULL result =
   *           exact distinct count ≤ cap plus the sorted values; a
   *           high-cardinality column collapses to an O(1) overflow bit) —
   *           round 5 paid an exact per-column countDistinct (an Expand
   *           multiplying the scan by the distinct-aggregate count) plus a
   *           second full scan per Enum candidate;
   *   Str   — everything else (also the all-empty column: nothing proven).
   *
   * `required` ⇔ no empty cell was observed. Round-trip guarantee (spec'd):
   * validating `df` with its own inferred checklist yields zero violations
   * — every rule was derived from what the data already satisfies.
   *
   * Typed TimestampType columns cast with a space separator (not ISO 'T'),
   * so they deliberately fall to Enum/Str: inference is defined on the
   * reference's untyped-string manifest model — format timestamps first.
   */
  /** The ONE profiling aggregate behind [[inferFields]], exposed for plan
   * pinning (PlanSpec): a single global aggregate — no distinct aggregates
   * (so no Expand row multiplication) and no per-candidate second scan. */
  private[graft] def inferProfileFrame(df: DataFrame, enumMaxCard: Int): DataFrame = {
    val names = df.schema.fields.map(_.name).toSeq

    def v(n: String): Column = stripQuotes(col(n).cast(StringType))
    def nonEmpty(n: String): Column = !isEmptyCell(col(n).cast(StringType))
    def countIf(c: Column): Column = sum(when(c, 1L).otherwise(0L))

    val aggs = names.flatMap { n =>
      val ne = nonEmpty(n)
      val intShaped = ne && typePredicate(FieldType.IntT(None, None), v(n))
      // try_cast, not cast: under Spark 4's default ANSI mode a 39+-digit
      // int literal makes a plain decimal(38,0) cast THROW mid-aggregate —
      // the whole inference pass would crash on one wide value. try_cast
      // restores the yield-NULL semantics the carrier logic needs.
      val asDec = v(n).try_cast(DecimalType(38, 0))
      Seq(
        countIf(ne).as(s"${n}__ne"),
        countIf(ne && typePredicate(FieldType.BoolT, v(n)))
          .as(s"${n}__bool"),
        countIf(intShaped).as(s"${n}__int"),
        countIf(ne && typePredicate(FieldType.DateTimeT, v(n)))
          .as(s"${n}__iso"),
        graft.functions.CappedDistinctStrings.collect(when(ne, v(n)), enumMaxCard)
          .as(s"${n}__vals"),
        min(when(intShaped, asDec)).as(s"${n}__min"),
        max(when(intShaped, asDec)).as(s"${n}__max"),
        // int-shaped values the decimal(38,0) carrier cannot hold (39+
        // digits try-cast to NULL): when any exist, the observed min/max
        // cover only the representable subset and must not become bounds
        countIf(intShaped && asDec.isNull).as(s"${n}__intbig"))
    } :+ count(lit(1)).as("__rows")
    df.agg(aggs.head, aggs.tail: _*)
  }

  def inferFields(df: DataFrame, enumMaxCard: Int = 16): Seq[InferredField] = {
    require(enumMaxCard >= 1, s"enumMaxCard must be >= 1, got $enumMaxCard")
    val names = df.schema.fields.map(_.name).toSeq
    val prof = inferProfileFrame(df, enumMaxCard).collect()(0)
    val nRows = prof.getAs[Long]("__rows")

    names.map { n =>
      val ne = prof.getAs[Long](s"${n}__ne")
      // non-NULL = the column's EXACT distinct count is <= enumMaxCard and
      // these are its values, sorted; NULL = provably > enumMaxCard
      val vals = prof.getAs[scala.collection.Seq[String]](s"${n}__vals")
      def all(k: String): Boolean = ne > 0 && prof.getAs[Long](s"${n}__$k") == ne
      def bound(k: String): Option[Long] =
        Option(prof.getAs[java.math.BigDecimal](s"${n}__$k"))
          .map(_.toBigInteger).filter(b =>
            b.bitLength < 64 && BigInt(b).isValidLong)
          .map(_.longValueExact())
      val ftype: FieldType =
        if (all("bool")) FieldType.BoolT
        else if (all("int")) {
          // bounds only when BOTH fit in Long (a one-sided bound would
          // reject values the data contains on the unrepresentable side)
          // AND every int-shaped value survived the decimal(38,0) carrier
          // — a 39+-digit literal casts to NULL there, so the observed
          // min/max would silently exclude real data and break the
          // round-trip zero-violation guarantee
          val bigs = prof.getAs[Long](s"${n}__intbig")
          (bound("min"), bound("max")) match {
            case (lo @ Some(_), hi @ Some(_)) if bigs == 0 =>
              FieldType.IntT(lo, hi)
            case _ => FieldType.IntT(None, None)
          }
        } else if (all("iso")) FieldType.DateTimeT
        else if (ne > 0 && vals != null) FieldType.EnumT(vals.toSeq)
        else FieldType.StrT(None)
      InferredField(n, ftype, required = ne == nRows && nRows > 0)
    }
  }

  /** [[inferFields]] as a (column, ftype, required, detail) frame sorted by
   * column — the query/oracle surface of checklist inference. */
  def checklistProfile(df: DataFrame, enumMaxCard: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    inferFields(df, enumMaxCard)
      .map(f => (f.name, f.typeName, f.required, f.detail))
      .sortBy(_._1)
      .toDF("column", "ftype", "required", "detail")
  }
}
