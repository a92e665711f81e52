package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Event-stream analytics the reference's manifest-validation world never
 * needed but any warehouse user expects alongside it: ordered funnel
 * conversion, cohort retention and time-series resampling with gap fill.
 * All three are declarative DataFrame plans — no UDFs, no driver loops —
 * so Catalyst keeps pushdown/pruning and AQE keeps runtime re-planning.
 *
 * Scale shapes:
 *  - funnel: ONE shuffle on the user key. Events are pre-filtered to the
 *    funnel's step types before the shuffle, and the per-user fold is a
 *    higher-order `aggregate` over the user's sorted step events — state is
 *    the k-slot timestamp array, never materialized per-pair. The per-user
 *    list is bounded by that user's step-type events; a bot-grade hot user
 *    is the caller's pre-cap (same contract as sessionization's hot key).
 *  - cohort: two aggregates, no join — first pass collapses each user to
 *    (first period, distinct active periods), bounded by the timeline
 *    length in periods, second counts per (cohort, offset) cell.
 *  - resample: one bucket aggregate, one per-key ordered window, chunked
 *    explodes — gap buckets GENERATE from each real row's predecessor
 *    distance instead of outer-joining a grid (whose preserved side could
 *    never broadcast); the only join is a broadcast 1-row bounds frame.
 */
object EventAnalytics {

  private def validateFunnelArgs(steps: Seq[String],
      windowSeconds: Long): Unit = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    require(windowSeconds > 0,
      s"funnel window must be positive, got $windowSeconds (a zero/negative " +
        "window can never convert past step 1)")
  }

  /** Pre-shuffle filter: only the funnel's step types survive. */
  private def stepFilter(typeCol: String, steps: Seq[String]): Column =
    col(typeCol).isin(steps.map(x => x: Any): _*)

  /** step name -> 1-based slot; the when-chain is k terms, k is small. */
  private def stepIndexCol(typeCol: String, steps: Seq[String]): Column =
    steps.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (s, i)) => when(col(typeCol) === s, lit(i + 1)).otherwise(acc)
    }

  /**
   * Ordered windowed funnel (ClickHouse `windowFunnel` shape, pinned to
   * earliest-anchor greedy semantics): per user, `t1` = earliest step-1
   * event; `t_k` = earliest step-k event STRICTLY after `t_{k-1}` and
   * within `windowSeconds` of `t1`. Returns one row per user that emitted
   * at least one step-type event: (userCols..., reached) where `reached`
   * is the deepest step index completed (1-based; a user whose first
   * step-type event is not step 1 has reached = 0).
   *
   * Earliest-anchor greedy is deterministic and oracle-restatable as k
   * chained `min(ts)` aggregates; it is also what per-level conversion
   * counts mean ("of the users who did A, how many did B within W of
   * their FIRST A").
   */
  def funnelLevels(df: DataFrame, userCols: Seq[String], tsCol: String,
      typeCol: String, steps: Seq[String], windowSeconds: Long): DataFrame = {
    validateFunnelArgs(steps, windowSeconds)
    // same reserved-name guard as [[resample]]: "reached" is the output,
    // __t/__s/__evs/__acc the internals
    locally {
      val reserved = Seq("reached", "__t", "__s", "__evs", "__acc")
      val clash = userCols.filter(reserved.contains)
      require(clash.isEmpty, "funnel user columns collide with reserved " +
        s"output/internal names: ${clash.mkString(", ")} — rename them first")
    }
    val k = steps.length
    // Timestamps stay timestamps (TIMESTAMP and TIMESTAMP_NTZ both work);
    // the unfilled-slot sentinel is NULL, the window is interval arithmetic.
    val tsType = df.schema(tsCol).dataType
    val win = expr(s"INTERVAL '$windowSeconds' SECOND")
    val ev = df
      .filter(col(tsCol).isNotNull && stepFilter(typeCol, steps))
      .select(userCols.map(col) ++ Seq(
        col(tsCol).as("__t"), stepIndexCol(typeCol, steps).as("__s")): _*)
    // ONE shuffle: per-user sorted fold over only the funnel-relevant events.
    // Slot array fills strictly in prefix order, so `reached` = filled count.
    ev.groupBy(userCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__t"), col("__s")))).as("__evs"))
      .withColumn("__acc", aggregate(col("__evs"),
        array_repeat(lit(null).cast(tsType), k),
        (acc, e) => {
          val t = e.getField("__t")
          val s = e.getField("__s")
          transform(acc, (v, i) =>
            when(v.isNotNull, v)                     // slot already earliest
              .when(s =!= i + 1, v)                  // event not for this slot
              .when(i === 0, t)                      // anchor: earliest step-1
              .when(element_at(acc, i).isNotNull &&
                t > element_at(acc, i) &&
                t <= element_at(acc, lit(1)) + win, t)
              .otherwise(v))
        }))
      .select(userCols.map(col) :+
        size(filter(col("__acc"), v => v.isNotNull)).cast("long").as("reached"): _*)
  }

  /**
   * Funnel summary: one row per step — (step, event_type, n_users) where
   * n_users counts users whose greedy funnel reached at least that step.
   * Steps no user reached still emit a zero row (the k-row step frame is a
   * driver-side literal, broadcast by size).
   */
  def funnelCounts(df: DataFrame, userCols: Seq[String], tsCol: String,
      typeCol: String, steps: Seq[String], windowSeconds: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val levels = funnelLevels(df, userCols, tsCol, typeCol, steps, windowSeconds)
    val counts = levels
      .filter(col("reached") >= 1)
      .select(explode(sequence(lit(1L), col("reached"))).as("step"))
      .groupBy("step").agg(count(lit(1)).as("n_users"))
    steps.zipWithIndex.map { case (s, i) => (i + 1L, s) }
      .toDF("step", "event_type")
      .join(counts, Seq("step"), "left")
      .select(col("step"), col("event_type"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
  }

  /**
   * Cohort retention: users bucketed by the period of their FIRST event
   * (ISO week via date_trunc by default); each cell counts distinct users
   * of cohort c active in period c+offset. No join and no countDistinct —
   * one user-keyed aggregate collapses each user to (first period,
   * distinct active periods) — the set is bounded by the timeline length
   * in periods — then the exploded frame is unique per (user, period), so
   * the cell count is a plain count.
   *
   * Output: (cohort, offset, n_users), offset in whole periods.
   *
   * `period` is restricted to the fixed-day-length truncation units
   * ("week"/"day") because the offset is an exact day-diff divided by the
   * period length; calendar months vary in length and would silently
   * drift (month cohorts want a months_between formulation, not this).
   */
  def cohortRetention(df: DataFrame, userCols: Seq[String], tsCol: String,
      period: String = "week"): DataFrame = {
    val periodDays = period match {
      case "week" => 7
      case "day"  => 1
      case other => throw new IllegalArgumentException(
        s"cohortRetention supports period 'week' or 'day', got '$other' " +
          "(variable-length periods would corrupt the day-diff offset)")
    }
    val perUser = df.filter(col(tsCol).isNotNull)
      .select(userCols.map(col) :+ date_trunc(period, col(tsCol)).as("__p"): _*)
      .groupBy(userCols.map(col): _*)
      .agg(min(col("__p")).as("cohort"), collect_set(col("__p")).as("__ps"))
    perUser
      .select(col("cohort"), explode(col("__ps")).as("__p"))
      .groupBy(col("cohort"),
        (datediff(to_date(col("__p")), to_date(col("cohort"))) / periodDays)
          .cast("long").as("offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /**
   * Resample an event stream to a fixed-interval grid per key, zero-filling
   * the count of empty buckets and forward-filling the last observed value
   * aggregate into them (metrics-pipeline gap fill). `valueAgg` is the
   * per-bucket aggregate to carry (e.g. round(sum("value"), 6)).
   *
   * Scale shape — NO grid join: a grid×aggregate outer join can never
   * broadcast its preserved grid side, so at scale it would silently
   * degrade to a sort-merge of two row-scale inputs. Instead the gap
   * buckets are GENERATED per key from the bucket aggregate itself: one
   * ordered window per key supplies the previous bucket and carried fill
   * value, and each real row explodes the `sequence` of empty buckets
   * between its predecessor and itself (the key's first/last rows extend
   * to the global lo/hi, a broadcast 1-row aggregate). Gap runs expand in
   * two explode levels — run → 4096-bucket chunks → buckets — so even a
   * sparse key spanning a years-long fine-grained spine never builds more
   * than one chunk of structs in a row. Total cost: the bucket aggregate
   * (cut lazily, once — two consumers), one key-partitioned window, the
   * bounded explodes; shuffle volume is the aggregate, never the grid.
   *
   * Output: (keyCols..., bucket, n, v, v_ffill) — `n`/`v` are 0/NULL on
   * gap buckets, `v_ffill` carries the last non-null `v` per key (NULL
   * until the key's first non-null value). Keys whose every event has a
   * NULL timestamp have no buckets and are absent.
   */
  def resample(df: DataFrame, keyCols: Seq[String], tsCol: String,
      interval: String, valueAgg: Column): DataFrame = {
    require(keyCols.nonEmpty, "resample needs at least one key column")
    // fail-loud on reserved-name collisions (the repo-wide convention): a
    // key column literally named "bucket"/"n"/"v" would otherwise hit an
    // ambiguous-column analysis error or silently shadow an output column
    locally {
      val reserved = Seq("bucket", "n", "v", "v_ffill", "__run", "__cs",
        "__lo", "__hi", "__ff", "__prev", "__prev_ff", "__is_last")
      val clash = keyCols.filter(reserved.contains)
      require(clash.isEmpty, "resample key columns collide with reserved " +
        s"output/internal names: ${clash.mkString(", ")} — rename them first")
    }
    val step = expr(s"interval 1 $interval")
    // chunk size for gap materialization: a gap run never builds more
    // than chunk structs in one row, so a sparse key spanning a years-long
    // fine-grained spine costs ceil(run/chunk) narrow chunk rows instead
    // of one giant in-row array (sequence also hard-caps its length)
    val chunk = 4096
    val stride = expr(s"interval $chunk $interval")
    val strideM1 = expr(s"interval ${chunk - 1} $interval")
    val bucketed = df.filter(col(tsCol).isNotNull)
      .groupBy(keyCols.map(col) :+ date_trunc(interval, col(tsCol)).as("bucket"): _*)
      .agg(count(lit(1)).as("n"), valueAgg.as("v"))
      // two consumers (bounds + fill); lazy = no job at plan construction,
      // the first action materializes the cut once and both reuse it
      .localCheckpoint(eager = false)
    val bounds = bucketed.agg(min("bucket").as("__lo"), max("bucket").as("__hi"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy("bucket")
    val wff = wk.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val vType = bucketed.schema("v").dataType
    val withPrev = bucketed.crossJoin(broadcast(bounds))
      .withColumn("__ff", last(col("v"), ignoreNulls = true).over(wff))
      .withColumn("__prev", lag(col("bucket"), 1).over(wk))
      .withColumn("__prev_ff", lag(col("__ff"), 1).over(wk))
      .withColumn("__is_last", lead(col("bucket"), 1).over(wk).isNull)
    // every real row contributes up to three RUNS of consecutive output
    // buckets: the gap before it (empty buckets carrying the predecessor's
    // fill), itself (a one-bucket run with the real n/v), and — on the
    // key's last row — the trailing gap to the global hi. A run with
    // e < s is empty and filtered before any expansion.
    val nilV = lit(null).cast(vType)
    val runs = array(
      struct(coalesce(col("__prev") + step, col("__lo")).as("s"),
        (col("bucket") - step).as("e"), lit(0L).as("n"), nilV.as("v"),
        col("__prev_ff").as("ff")),
      struct(col("bucket").as("s"), col("bucket").as("e"), col("n"),
        col("v"), col("__ff").as("ff")),
      struct((col("bucket") + step).as("s"),
        when(col("__is_last"), col("__hi")).otherwise(col("bucket") - step).as("e"),
        lit(0L).as("n"), nilV.as("v"), col("__ff").as("ff")))
    withPrev
      .select(keyCols.map(col) :+
        explode(filter(runs, r => r.getField("s") <= r.getField("e"))).as("__run"): _*)
      // run -> chunk starts (ceil(run/chunk) rows) -> buckets (≤ chunk each)
      .select(keyCols.map(col) ++ Seq(col("__run"),
        explode(sequence(col("__run.s"), col("__run.e"), stride)).as("__cs")): _*)
      .select(keyCols.map(col) ++ Seq(
        explode(sequence(col("__cs"),
          least(col("__run.e"), col("__cs") + strideM1), step)).as("bucket"),
        col("__run.n").as("n"), col("__run.v").as("v"),
        col("__run.ff").as("v_ffill")): _*)
      .select(keyCols.map(col) ++
        Seq(col("bucket"), col("n"), col("v"), col("v_ffill")): _*)
  }
}
