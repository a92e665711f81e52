package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Per-column statistics for the north_rule's dataset-quality checks: null
 * ratio, distinct count (exact or HyperLogLog), min/max, and fixed-bucket
 * histograms for distribution-drift tests.
 *
 * Everything is computed in ONE aggregation pass over the table (a single
 * partial+final HashAggregate — one shuffle of a few hundred bytes per
 * partition, regardless of input size). Histograms use a static
 * equi-width bucket spec so two datasets/partitions can be compared
 * bucket-by-bucket (see [[Drift]]); bucket counts are conditional sums in
 * the same pass, not a per-column groupBy, so adding histogram columns adds
 * NO extra shuffle or scan.
 *
 * The reference has no stats operators (SURVEY.md §2.6); this module is the
 * engine extension mandated by BASELINE.json north_rule.
 */
object ColumnStats {

  /** Equi-width histogram spec over [lo, hi) with n buckets; values outside
   * the range clamp into the first/last bucket so counts always sum to the
   * non-null row count. */
  final case class HistogramSpec(lo: Double, hi: Double, buckets: Int) {
    require(buckets > 0 && hi > lo)
    def width: Double = (hi - lo) / buckets
    /** 0-based bucket index expression for a numeric column. */
    def bucketOf(c: Column): Column =
      least(lit(buckets - 1),
        greatest(lit(0), floor((c.cast("double") - lo) / width).cast("int")))
  }

  /** One stats row per requested column (long/double metrics normalized so
   * heterogeneous column types can share one output schema). */
  final case class Request(
      column: String,
      histogram: Option[HistogramSpec] = None,
      exactDistinct: Boolean = false,
      /** relative standard deviation for approx_count_distinct (HLL). */
      hllRsd: Double = 0.05
  )

  /**
   * Compute all requested stats in one aggregation. Output: one row per
   * column with (column, n_rows, n_null, null_ratio, distinct_count,
   * min_str, max_str, histogram: array<long>).
   */
  def compute(df: DataFrame, requests: Seq[Request]): DataFrame = {
    val aggs: Seq[Column] = requests.flatMap { r =>
      val c = col(r.column)
      val base = Seq(
        count(lit(1)).as(s"${r.column}__n"),
        count(when(c.isNull, 1)).as(s"${r.column}__nulls"),
        (if (r.exactDistinct) count_distinct(c)
         else approx_count_distinct(c, r.hllRsd)).as(s"${r.column}__distinct"),
        min(c).cast("string").as(s"${r.column}__min"),
        max(c).cast("string").as(s"${r.column}__max"))
      val hist = r.histogram.toSeq.map { spec =>
        val b = spec.bucketOf(c)
        array((0 until spec.buckets).map(i =>
          count(when(c.isNotNull && b === i, 1))): _*)
          .as(s"${r.column}__hist")
      }
      base ++ hist
    }

    val row = df.agg(aggs.head, aggs.tail: _*)

    // pivot the single wide row into one row per column, driver-side (it is
    // a handful of scalars — no data-size dependence)
    val spark = df.sparkSession
    import spark.implicits._
    val wide = row.collect().head
    val out = requests.map { r =>
      val n = wide.getAs[Long](s"${r.column}__n")
      val nulls = wide.getAs[Long](s"${r.column}__nulls")
      val dist = wide.getAs[Long](s"${r.column}__distinct")
      val mn = Option(wide.getAs[String](s"${r.column}__min"))
      val mx = Option(wide.getAs[String](s"${r.column}__max"))
      val hist: List[Long] = r.histogram match {
        case Some(_) =>
          wide.getAs[scala.collection.Seq[Long]](s"${r.column}__hist").toList
        case None => Nil
      }
      (r.column, n, nulls,
        if (n == 0) 0.0 else nulls.toDouble / n,
        dist, mn, mx, hist)
    }
    out.toDF("column", "n_rows", "n_null", "null_ratio", "distinct_count",
      "min_str", "max_str", "histogram")
  }

  /**
   * Most-frequent values per column in ONE pass over the table: each
   * requested column feeds a [[graft.functions.FreqItemsSketch]] aggregate
   * (Misra–Gries, mergeable, capacity-bounded buffers), so profiling k
   * columns costs one scan and k capacity-sized summaries — never a
   * per-column groupBy over the data. With capacity above a column's
   * distinct count the counts are exact (the q_topvals oracle's regime);
   * above it they carry the standard MG bounds. Returns
   * (column, value, est_count).
   */
  def frequentValues(df: DataFrame, columns: Seq[String],
      capacity: Int): DataFrame = {
    require(columns.nonEmpty, "need at least one column")
    val aggs = columns.map(c =>
      graft.functions.FreqItemsSketch.sketch(col(c), capacity).as(s"__fi_$c"))
    // single explode over the tagged union of all sketches — referencing
    // the agg once per column would re-run the whole aggregation k times
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(concat(columns.map(c =>
        transform(col(s"__fi_$c"), e => struct(lit(c).as("column"),
          e.getField("token").as("value"),
          e.getField("est_count").as("est_count")))): _*)).as("r"))
      .select(col("r.column").as("column"), col("r.value").as("value"),
        col("r.est_count").as("est_count"))
  }

  /** Column label for percentile p: p50, p95, p99_9… (dots become
   * underscores so the label stays a plain identifier). */
  private def pName(p: Double): String =
    // scale-then-round kills double artifacts (0.95*100 == 95.000…01)
    "p" + BigDecimal(p * 100).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .underlying.stripTrailingZeros.toPlainString
      .replace(".", "_").replace("-", "")

  /**
   * EXACT per-group percentiles (linear interpolation at rank p·(n-1),
   * the R-7/NIST definition — the same contract as DuckDB `quantile_cont`,
   * which is what makes `q_pct` full-value-oracle-able). One aggregation;
   * all requested percentiles of a group come from one sorted buffer.
   *
   * Exact percentiles buffer each group's values — fine for per-group
   * profiling (groups of 10^6s), wrong for a 10^10-row group; that regime
   * needs Spark's `percentile_approx`.
   */
  def percentiles(df: DataFrame, valueCol: String, groupCols: Seq[String],
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), "ps must be in [0,1]")
    // Column API, not a string-interpolated expr — a column name needing
    // backticks (spaces, dashes) must resolve, never parse as arithmetic
    val exact = percentile(col(valueCol), array(ps.map(lit): _*))
    val grouped = if (groupCols.isEmpty) df.groupBy() else
      df.groupBy(groupCols.map(col): _*)
    grouped.agg(exact.as("__ps"))
      .select(groupCols.map(col) ++ ps.zipWithIndex.map { case (p, i) =>
        round(element_at(col("__ps"), i + 1), 6).as(pName(p))
      }: _*)
  }

  /**
   * Per-group distribution moments — mean, variance, skewness, excess
   * kurtosis — from EXACT power sums: x..x^4 accumulate as
   * DECIMAL(38,0) (integer-valued columns sum exactly, so the result is
   * identical under ANY accumulation order — no float-order divergence
   * between partial aggregation here and a SQL oracle there), and only
   * the final O(groups) moment formulas run in double. One aggregation,
   * map-side partials, five numbers of state per group.
   *
   * Population moments (the m2/m3/m4 central-moment forms):
   * `skew = (s3/n - 3·mean·s2/n + 2·mean³) / m2^1.5`,
   * `kurt = (s4/n - 4·mean·s3/n + 6·mean²·s2/n - 3·mean⁴) / m2² - 3`
   * — restated with this exact association by the `q_moments` oracle.
   * Intended for integer-valued metrics (lengths, counts); DECIMAL(38,0)
   * truncates fractional inputs (documented, required for exactness).
   * Groups with m2 == 0 (constant value) emit NULL skew/kurt.
   */
  def moments(df: DataFrame, valueCol: String,
      groupCols: Seq[String]): DataFrame = {
    val x = col(valueCol).cast("decimal(38,0)")
    val grouped = if (groupCols.isEmpty) df.groupBy() else
      df.groupBy(groupCols.map(col): _*)
    val agg = grouped.agg(
      count(x).as("__n"),
      sum(x).as("__s1"), sum(x * x).as("__s2"),
      sum(x * x * x).as("__s3"), sum(x * x * x * x).as("__s4"))
    val n = col("__n").cast("double")
    val s1 = col("__s1").cast("double"); val s2 = col("__s2").cast("double")
    val s3 = col("__s3").cast("double"); val s4 = col("__s4").cast("double")
    val mean = s1 / n
    val m2 = s2 / n - mean * mean
    val m3 = s3 / n - lit(3.0) * mean * (s2 / n) + lit(2.0) * mean * mean * mean
    val m4 = s4 / n - lit(4.0) * mean * (s3 / n) +
      lit(6.0) * mean * mean * (s2 / n) -
      lit(3.0) * mean * mean * mean * mean
    agg.select(groupCols.map(col) ++ Seq(
      col("__n").as("n"),
      round(mean, 6).as("mean"),
      round(m2, 6).as("variance"),
      round(when(m2 > 0, m3 / pow(m2, 1.5)), 6).as("skewness"),
      round(when(m2 > 0, m4 / (m2 * m2) - lit(3.0)), 6).as("kurtosis")): _*)
  }

  /**
   * Pairwise Pearson correlation + sample covariance for a set of numeric
   * column pairs — the cross-column statistics a drift/quality monitor
   * tracks beside the per-column moments (are price and quantity still
   * coupled the way yesterday's corpus was?). ONE aggregation pass
   * computes every pair's corr/covar simultaneously (Spark plans them as
   * shared-scan co-moment aggregates with map-side partials); the
   * single-row result then explodes into one row per pair — dimension
   * cost, no second scan. Round-6 output (the house contract). corr is a
   * scale-free ratio of co-moments (|corr| <= 1), so summation-order skew
   * sits far below round-6; covar_samp is NOT scale-free — its low-order
   * bits depend on partial-merge order, so the oracle query compares
   * corr/n only and covar is spec-gated (the q_moments decimal-sum trick
   * does not extend to cross-products of doubles). Zero-variance columns
   * yield NULL corr (the SQL contract — Spark's raw Pearson emits NaN,
   * normalized here). NULLs pair-excluded on both engines.
   */
  def correlations(df: DataFrame,
      pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "need at least one column pair")
    val aggs = pairs.zipWithIndex.flatMap { case ((a, b), i) => Seq(
      corr(col(a), col(b)).as(s"__c$i"),
      covar_samp(col(a), col(b)).as(s"__v$i"),
      count(when(col(a).isNotNull && col(b).isNotNull, 1)).as(s"__n$i")) }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs.zipWithIndex.map { case ((a, b), i) =>
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          col(s"__n$i").as("n"),
          round(when(isnan(col(s"__c$i")), lit(null)).otherwise(col(s"__c$i")),
            6).as("corr"),
          round(col(s"__v$i"), 6).as("covar_samp"))
      }: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.n"),
        col("p.corr"), col("p.covar_samp"))
  }


  /**
   * Categorical association profiling — Shannon entropies H(A), H(B),
   * H(A,B) and mutual information I(A;B) = H(A)+H(B)-H(A,B) (nats) for a
   * set of column pairs, plus the normalized MI
   * `nmi = I / sqrt(H(A)·H(B))` (NULL when either marginal entropy is 0,
   * i.e. a constant column). The question a quality monitor asks with
   * this: "are `lang` and `source` still coupled the way yesterday's
   * corpus was / does column A functionally determine column B?" —
   * nmi == 1 means a bijective dependency, nmi == 0 independence.
   *
   * Scale shape: the ONLY row-scale operation per pair is the joint
   * `groupBy(a, b).count()` — one map-side-combined shuffle whose output
   * is dimension-scale (|A|·|B| cells). Marginals derive from the joint
   * table (two tiny re-aggregations), totals ride along as a broadcast
   * cross join, and each entropy is a sum over cells — no driver-resident
   * distribution. The four consumers of the joint table (totals + three
   * entropies) share one identical Exchange subtree, so Catalyst's
   * exchange reuse runs the row-scale scan+shuffle ONCE and the branches
   * re-read its output (PlanSpec pins the ReusedExchange). Values are
   * cast to string so heterogeneous pairs share one code path (same
   * contract as [[compute]]'s min/max).
   *
   * Determinism: entropies are float sums over the cell table, so
   * accumulation order skews low bits only (|cells| · 1e-16 ≪ the
   * round-6 house contract). MI is clamped at 0 before rounding — the
   * true value is non-negative and the clamp kills the −1e-16 artifact
   * that would otherwise round to an engine-dependent −0.0. Rows where
   * either side is NULL are pair-excluded (same as [[correlations]]).
   */
  def association(df: DataFrame,
      pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "need at least one column pair")
    val perPair = pairs.map { case (a, b) =>
      val joint = df
        .where(col(a).isNotNull && col(b).isNotNull)
        .groupBy(col(a).cast("string").as("__va"),
          col(b).cast("string").as("__vb"))
        .agg(count(lit(1)).as("__cnt"))
      // dimension-scale from here: totals + marginals off the cell table
      val tot = joint.agg(sum("__cnt").as("__n"),
        count_distinct(col("__va")).as("__da"),
        count_distinct(col("__vb")).as("__db"))
      def entropyOf(cells: DataFrame, cntCol: String,
          out: String): DataFrame =
        cells.crossJoin(broadcast(tot))
          .agg((-sum((col(cntCol) / col("__n")) *
            log(col(cntCol) / col("__n")))).as(out))
      val hA = entropyOf(
        joint.groupBy("__va").agg(sum("__cnt").as("__ca")), "__ca", "__ha")
      val hB = entropyOf(
        joint.groupBy("__vb").agg(sum("__cnt").as("__cb")), "__cb", "__hb")
      val hAB = entropyOf(joint, "__cnt", "__hab")
      val mi = col("__ha") + col("__hb") - col("__hab")
      tot.crossJoin(broadcast(hA)).crossJoin(broadcast(hB))
        .crossJoin(broadcast(hAB))
        .select(
          lit(a).as("col_a"), lit(b).as("col_b"),
          col("__n").as("n"),
          col("__da").as("distinct_a"), col("__db").as("distinct_b"),
          round(col("__ha"), 6).as("h_a"),
          round(col("__hb"), 6).as("h_b"),
          round(col("__hab"), 6).as("h_joint"),
          round(greatest(mi, lit(0.0)), 6).as("mi"),
          round(when(col("__ha") * col("__hb") > 0,
            greatest(mi, lit(0.0)) / sqrt(col("__ha") * col("__hb"))),
            6).as("nmi"))
    }
    perPair.reduce(_ union _)
  }

  /** Histogram-only helper returning the bucket counts as a Scala array —
   * the input to [[Drift]] tests. One aggregation, no groupBy shuffle. */
  def histogram(df: DataFrame, column: String, spec: HistogramSpec): Array[Long] = {
    val c = col(column)
    val b = spec.bucketOf(c)
    val aggs = (0 until spec.buckets).map(i =>
      count(when(c.isNotNull && b === i, 1)).as(s"b$i"))
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    (0 until spec.buckets).map(i => row.getAs[Long](s"b$i")).toArray
  }
}
