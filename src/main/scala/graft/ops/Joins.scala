package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Temporal join operators Spark's DataFrame API lacks as primitives,
 * composed from built-ins the Catalyst way rather than as custom physical
 * plans: an as-of join is ONE union + ONE window over (key, time) — a
 * single shuffle on the key, an in-partition sort, and a carry-forward
 * aggregate that whole-stage-codegens. (kdb `aj`, pandas `merge_asof`,
 * DuckDB `ASOF JOIN` are the reference semantics.)
 */
object Joins {

  /**
   * Backward as-of join: for every left row, attach the LATEST right row
   * of the same key whose `rightTs <= leftTs` (inclusive — the DuckDB
   * `ASOF JOIN ... ON l.ts >= r.ts` contract). Left rows with no prior
   * right row (or a NULL timestamp) keep NULL right columns; right rows
   * with NULL timestamps never match. Among right rows tying on
   * (key, rightTs), the one with the lexicographically LARGEST remaining
   * column tuple wins — a total, deterministic order, stable across
   * partitionings.
   *
   * HOW: tag-union both sides on (key, ts), window per key ordered by
   * (ts, side) with right rows sorting BEFORE left rows at equal ts, and
   * carry `max(right-row struct)` forward over ROWS UNBOUNDED
   * PRECEDING..CURRENT ROW. The struct's first field is `rightTs`, so the
   * running max IS the latest prior right row; aggregate max ignores the
   * NULL struct that left rows contribute. One exchange (hash by key),
   * one sort — the minimal distributed as-of; a sort-merge join
   * formulation would shuffle both sides the same amount and then still
   * need the per-key scan.
   *
   * Scale notes: a hot key serializes into one partition's sort — the
   * standard mitigation is compound-key chunking (append a coarse time
   * bucket to the partition key and replicate each bucket's last right
   * row into the next bucket), which preserves semantics because the
   * carry-forward state is exactly one row. Left and right column names
   * must be disjoint apart from the key (enforced); timestamps compare at
   * microsecond precision.
   */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String): DataFrame = {
    val rightPayload = right.columns.filterNot(_ == keyCol).toSeq
    require(rightPayload.contains(rightTsCol),
      s"right side must contain its timestamp column '$rightTsCol'")
    val leftCols = left.columns.toSeq
    val clash = rightPayload.toSet.intersect(leftCols.toSet)
    require(clash.isEmpty,
      s"left/right column names must be disjoint apart from '$keyCol'; " +
        s"clashing: ${clash.mkString(", ")}")

    // right-row struct: ts FIRST (the carry-forward max ranks on it),
    // then the remaining payload columns as the deterministic tiebreak
    val rStructNames = rightTsCol +: rightPayload.filterNot(_ == rightTsCol)
    val rStructCols = rStructNames.map(col)
    val rTagged = right.filter(col(rightTsCol).isNotNull).select(
      col(keyCol), col(rightTsCol).as("__ts"), lit(0).as("__side"),
      struct(rStructCols: _*).as("__r"))
    val rType = rTagged.schema("__r").dataType
    val lTagged = left.select(
      col(keyCol), col(leftTsCol).as("__ts"), lit(1).as("__side"),
      lit(null).cast(rType).as("__r"), struct(leftCols.map(col): _*).as("__l"))

    val w = Window.partitionBy(keyCol).orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rTagged.withColumn("__l", lit(null).cast(lTagged.schema("__l").dataType))
      .unionByName(lTagged)
      .withColumn("__best", max(col("__r")).over(w))
      .filter(col("__side") === 1)

    val outLeft = leftCols.map(c => col(s"__l.$c").as(c))
    val outRight = rStructNames.map(c => col(s"__best.$c").as(c))
    carried.select(outLeft ++ outRight: _*)
  }

  /**
   * SKEW-SAFE as-of join — the compound-key time-bucket chunking
   * [[asofJoin]]'s scale note describes, implemented. The plain form
   * partitions the window by `keyCol` alone, so a hot key (one user id
   * with 10^9 events — the canonical 100x-scale killer) serializes its
   * entire history through ONE partition's sort. Here the partition key
   * is (key, floor(ts / bucketWidth)): a hot key's rows spread across its
   * time buckets, and every window sort is bucket-local.
   *
   * Correctness hinges on the carry-forward state being exactly ONE row:
   * the latest right row at or before a bucket's start is, for every left
   * row in that bucket, the best candidate from ALL earlier buckets. So:
   *  1. per (key, bucket): max right-struct — a map-side-combinable
   *     aggregate over bucket-LEVEL granularity;
   *  2. per key: the EXCLUSIVE running max over buckets in order (a
   *     window over #buckets rows per key — dimension-scale, not
   *     row-scale; 10^9 events at day buckets is ~10^3 window rows);
   *  3. per (key, bucket): the in-bucket carry-forward window (the plain
   *     formulation, now bucket-local), final best = greatest(in-bucket
   *     running max, carried-in bucket max) — `greatest` ranks the
   *     structs by ts first and ignores NULLs, and any in-bucket right
   *     row out-ranks every carried row by construction (later bucket =
   *     strictly later ts).
   * Output is row-for-row identical to [[asofJoin]] (OpsSpec-pinned on a
   * planted 50%-hot key). Same column contracts; ts columns must be
   * timestamps (bucketWidth in MICROSECONDS) or integral (bucketWidth in
   * key units). NULL left timestamps bucket to NULL and keep NULL right
   * columns via a null-safe bucket join. Pick bucketWidth so a hot key
   * yields 10^2-10^4 buckets: wide enough that the carry table stays
   * dimension-scale, fine enough that no single bucket recreates the
   * funnel.
   */
  def asofJoinSkewSafe(left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val rightPayload = right.columns.filterNot(_ == keyCol).toSeq
    require(rightPayload.contains(rightTsCol),
      s"right side must contain its timestamp column '$rightTsCol'")
    val leftCols = left.columns.toSeq
    val clash = rightPayload.toSet.intersect(leftCols.toSet)
    require(clash.isEmpty,
      s"left/right column names must be disjoint apart from '$keyCol'; " +
        s"clashing: ${clash.mkString(", ")}")

    val rStructNames = rightTsCol +: rightPayload.filterNot(_ == rightTsCol)
    val rTagged = right.filter(col(rightTsCol).isNotNull).select(
      col(keyCol), col(rightTsCol).as("__ts"), lit(0).as("__side"),
      struct(rStructNames.map(col): _*).as("__r"))
    val rType = rTagged.schema("__r").dataType
    val lTagged = left.select(
      col(keyCol), col(leftTsCol).as("__ts"), lit(1).as("__side"),
      lit(null).cast(rType).as("__r"), struct(leftCols.map(col): _*).as("__l"))
    val unioned = rTagged
      .withColumn("__l", lit(null).cast(lTagged.schema("__l").dataType))
      .unionByName(lTagged)
    val bucketed = unioned.withColumn("__tb",
      floorDiv(tsAsLong(unioned, "__ts"), bucketWidth))

    // bucket-level carry: per-(key,bucket) max right row, then per key the
    // EXCLUSIVE prefix max over buckets — all at bucket granularity
    val carry = bucketed.groupBy(col(keyCol).as("__ck"), col("__tb").as("__cb"))
      .agg(max(col("__r")).as("__bmax"))
      .select(col("__ck"), col("__cb"),
        max(col("__bmax")).over(
          Window.partitionBy(col("__ck")).orderBy(col("__cb"))
            .rowsBetween(Window.unboundedPreceding, -1)).as("__carry"))

    // row-level window, now BUCKET-LOCAL: the hot key's sort is split
    // across its (key, bucket) groups instead of one partition
    val wIn = Window.partitionBy(col(keyCol), col("__tb"))
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // <=> on BOTH join legs: Window.partitionBy groups NULL keys into one
    // partition (so the plain asofJoin matches within a NULL-key group),
    // and an === here would silently drop the NULL-key group's carry
    val joined = bucketed.join(carry,
      bucketed(keyCol) <=> carry("__ck") && bucketed("__tb") <=> carry("__cb"),
      "left")
    val outLeft = leftCols.map(c => col(s"__l.$c").as(c))
    val outRight = rStructNames.map(c => col(s"__best.$c").as(c))
    joined
      .withColumn("__best", greatest(max(col("__r")).over(wIn), col("__carry")))
      .filter(col("__side") === 1)
      .select(outLeft ++ outRight: _*)
  }

  /** Integral-or-timestamp column as a long (timestamps in MICROSECONDS) —
   * the shared domain conversion of [[rangeJoin]] and
   * [[asofJoinSkewSafe]]. */
  private def tsAsLong(df: DataFrame, c: String): Column = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case TimestampType => unix_micros(col(c))
      // parquet walltime timestamps surface as NTZ; the session runs UTC,
      // so the TZ cast is a pure reinterpretation, never a wall shift
      case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
      case ByteType | ShortType | IntegerType | LongType => col(c).cast("long")
      case dt => throw new IllegalArgumentException(
        s"temporal-join column '$c' must be integral or timestamp, got ${dt.simpleString}")
    }
  }

  /** Exact floor division on longs: pmod keeps the remainder non-negative
   * (negative domains bucket correctly) and the division is an INTEGRAL
   * divide of the exact multiple — Column `/` is double division, which
   * rounds above 2^53 (nanosecond epochs) and would put a point and its
   * interval in adjacent buckets. */
  private def floorDiv(x: Column, w: Long): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val dividend = ColumnBridge.expression(x - pmod(x, lit(w)))
    ColumnBridge.column(new org.apache.spark.sql.catalyst.expressions
      .IntegralDivide(dividend, ColumnBridge.expression(lit(w))))
  }

  /**
   * Point-in-interval range join: every left row whose `pointCol` falls in
   * `[startCol, endCol]` (inclusive both ends) of a right interval with the
   * same key is paired with that interval — "which promotion windows was
   * this event inside", "which validity epoch does this timestamp belong
   * to". Spark has no range-join primitive: the naive
   * `left.join(right, key && point.between(start, end))` parses the
   * inequality out of the equi-key and plans a row-at-a-time
   * BroadcastNestedLoopJoin (or a CartesianProduct without the key) —
   * O(|L|x|R|) comparisons, the canonical 100 TB scale-killer.
   *
   * HOW: bucketize the domain at `bucketWidth`. Each interval is exploded
   * to the buckets it covers (`sequence(floor(s/W), floor(e/W))`); each
   * point belongs to exactly ONE bucket, so the equi-join on
   * (key, bucket) + the exact `BETWEEN` residual is duplicate-free by
   * construction — no distinct pass. The join is a plain shuffled hash /
   * sort-merge equi-join: comparisons drop from |L|x|R| per key to only
   * the pairs sharing a bucket, and Catalyst remains free to broadcast a
   * small interval side. (This is the textbook interval-bucketing scheme
   * Databricks ships as a range-join hint and Flink uses for interval
   * joins.)
   *
   * The replication factor is span/W per interval. A degenerate interval
   * (open-ended, or W chosen far too fine) would explode into millions of
   * bucket rows; `maxBucketsPerInterval` fail-fasts DISTRIBUTEDLY via a
   * `raise_error` folded into the bucket-sequence bounds — no driver-side
   * pre-scan, the guard rides the same projection. Pick W near the median
   * interval span: points pay one bucket always, intervals ~2 rows at
   * median span, and the residual filter discards the within-bucket misses.
   *
   * Contracts: point/start/end must be integral or timestamp columns
   * (timestamps bucket in MICROSECONDS — `bucketWidth` is micros there);
   * NULL points/bounds and empty intervals (start > end) match nothing;
   * non-key column names must be disjoint. `joinType` "inner" (default)
   * or "left" — left keeps points inside no interval with NULL interval
   * columns (enrich-or-null), still exactly one output row per
   * (point, matching interval). Floor-division is exact on longs
   * (`(x - pmod(x, W)) / W` via IntegralDivide), so negative domains
   * bucket correctly.
   */
  def rangeJoin(points: DataFrame, intervals: DataFrame, keyCols: Seq[String],
      pointCol: String, startCol: String, endCol: String, bucketWidth: Long,
      maxBucketsPerInterval: Int = 65536,
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      s"rangeJoin supports inner|left, got $joinType")
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    require(maxBucketsPerInterval > 0, "maxBucketsPerInterval must be positive")
    val clash = points.columns.toSet.intersect(intervals.columns.toSet) -- keyCols
    require(clash.isEmpty,
      s"point/interval column names must be disjoint apart from the keys; " +
        s"clashing: ${clash.mkString(", ")}")
    require(!(points.columns ++ intervals.columns).contains("__pb"),
      "'__pb' is the range join's internal bucket column; rename it first")

    def bucketOf(x: Column): Column = floorDiv(x, bucketWidth)
    def asLong(df: DataFrame, c: String): Column = tsAsLong(df, c)

    val pBucketed = points.withColumn("__pb", bucketOf(asLong(points, pointCol)))
    val s = asLong(intervals, startCol)
    val e = asLong(intervals, endCol)
    val b1Guarded = when(
      bucketOf(e) - bucketOf(s) >= maxBucketsPerInterval,
      raise_error(concat(
        lit(s"rangeJoin: interval spans >= $maxBucketsPerInterval buckets at " +
          s"width $bucketWidth (start="), col(startCol).cast("string"),
        lit(", end="), col(endCol).cast("string"),
        lit("); widen bucketWidth or pre-split the interval"))).cast("long")
    ).otherwise(bucketOf(e))
    val iExploded = intervals
      .filter(col(startCol).isNotNull && col(endCol).isNotNull && s <= e)
      .withColumn("__pb", explode(sequence(bucketOf(s), b1Guarded)))

    if (joinType == "inner") {
      val joinKeys = keyCols :+ "__pb"
      pBucketed.join(iExploded, joinKeys, "inner")
        .filter(col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
        .drop("__pb")
    } else {
      // left: the BETWEEN residual must sit INSIDE the join condition —
      // a post-filter would drop the very null-extended rows "left" keeps.
      // Catalyst still extracts the equality conjuncts as the join keys.
      val p = pBucketed.alias("__pside")
      val i = iExploded.alias("__iside")
      val cond = (keyCols :+ "__pb")
        .map(c => col(s"__pside.$c") === col(s"__iside.$c"))
        .reduce(_ && _) &&
        col(s"__pside.$pointCol") >= col(s"__iside.$startCol") &&
        col(s"__pside.$pointCol") <= col(s"__iside.$endCol")
      val outP = points.columns.map(c => col(s"__pside.$c").as(c))
      val outI = intervals.columns.filterNot(keyCols.contains)
        .map(c => col(s"__iside.$c").as(c))
      p.join(i, cond, "left").select(outP ++ outI: _*)
    }
  }

  /**
   * Skew-proof equi-join: the standard SALTING rewrite for a join whose
   * key distribution is hot (a handful of keys own most rows — language
   * tags, null-ish sentinel ids, top domains). A plain shuffled join
   * sends every row of a key to ONE reducer; at 100 TB a key holding 5%
   * of the corpus serializes 5 TB through a single task while 999
   * executors idle. AQE's skew-join splitter only rescues SORT-MERGE
   * joins after the skewed shuffle files already exist; salting removes
   * the hotspot from the shuffle itself and needs no runtime detection.
   *
   * HOW: `big` rows scatter across `numSalts` sub-keys via a
   * deterministic row hash; `small` is replicated once per salt
   * (`explode(sequence(0, numSalts-1))` — a |small| x numSalts blow-up,
   * which is why the salted side must be the dimension side). The join
   * key becomes (keys..., salt): every reducer now holds ~1/numSalts of
   * a hot key's rows. Result set is IDENTICAL to the plain join (each
   * big row matches the one replica carrying its salt); only the
   * placement changes.
   *
   * The salt hashes the big side's ENTIRE ROW — a pure function of row
   * CONTENT, so a retried map task reassigns identical salts no matter
   * what order it re-reads rows in (an order-dependent salt like
   * `monotonically_increasing_id` loses/duplicates rows on partial stage
   * retry, the SPARK-23207 class of bug), it spreads a hot key's rows by
   * their differing payloads, and it is cheap (no rand(), whose per-row
   * state breaks codegen pipelining). Rows identical in every column hash
   * to the same salt — interchangeable rows, no skew concern.
   */
  def saltedJoin(big: DataFrame, small: DataFrame, keyCols: Seq[String],
      numSalts: Int = 16): DataFrame = {
    require(numSalts > 0, s"numSalts must be positive, got $numSalts")
    val clash = big.columns.toSet.intersect(small.columns.toSet) -- keyCols
    require(clash.isEmpty,
      s"big/small column names must be disjoint apart from the keys; " +
        s"clashing: ${clash.mkString(", ")}")
    require(!(big.columns ++ small.columns).contains("__salt"),
      "'__salt' is the salted join's internal column; rename it first")
    val bigSalted = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col): _*), lit(numSalts)).cast("int"))
    val smallReplicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(numSalts - 1))))
    bigSalted.join(smallReplicated, keyCols :+ "__salt", "inner").drop("__salt")
  }

  /**
   * Join-size pre-flight: the EXACT inner-join output cardinality per key
   * (`n_a · n_b`), hottest keys first — what a 100 TB join runs BEFORE
   * executing to decide its strategy (broadcast vs shuffle, whether a key
   * needs [[saltedJoin]]'s salting, whether a top key is a data bug). The
   * classic estimator sketch (a KMV/sample join) trades exactness for one
   * pass; this is the exact form, and it is already cheap: two map-side-
   * combined per-key count aggregations, an aggregate-sized equi-join
   * (per-key counts, never rows), and a TakeOrderedAndProject — the join
   * itself is never materialized. Ties order by key ascending.
   */
  def joinSizeProfile(a: DataFrame, b: DataFrame, keyA: String,
      keyB: String, topK: Int = 10): DataFrame = {
    require(topK > 0, "topK must be positive")
    val ca = a.filter(col(keyA).isNotNull)
      .groupBy(col(keyA).as("key")).agg(count(lit(1)).as("n_a"))
    val cb = b.filter(col(keyB).isNotNull)
      .groupBy(col(keyB).as("key")).agg(count(lit(1)).as("n_b"))
    ca.join(cb, "key")
      // decimal(38,0) product INTERNALLY: this pre-flight exists precisely
      // for the pathological keys (billions of rows per side) where a
      // 64-bit n_a * n_b would silently wrap — ranking and the top-k cut
      // stay exact. The EMITTED n_out is a double: a profile a human (or a
      // pandas bridge) reads — exact below 2^53, and past that the display
      // loses ulps while the row selection already happened on the exact
      // value.
      .select(col("key"), col("n_a"), col("n_b"),
        (col("n_a").cast("decimal(38,0)") * col("n_b")).as("__n_out_exact"))
      .orderBy(col("__n_out_exact").desc, col("key").asc)
      .limit(topK)
      .select(col("key"), col("n_a"), col("n_b"),
        col("__n_out_exact").cast("double").as("n_out"))
  }
}
