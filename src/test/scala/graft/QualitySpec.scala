package graft

import org.apache.spark.sql.functions._

import graft.quality._

class QualitySpec extends SparkSuite {
  import spark.implicits._

  test("ColumnStats: one-pass stats with exact distinct") {
    val df = Seq(
      (1L, Some("a"), 10), (2L, Some("b"), 20), (3L, None, 30),
      (4L, Some("a"), 40)).toDF("id", "s", "n")
    val stats = ColumnStats.compute(df, Seq(
      ColumnStats.Request("s", exactDistinct = true),
      ColumnStats.Request("n", exactDistinct = true,
        histogram = Some(ColumnStats.HistogramSpec(0, 40, 4)))))
      .collect().map(r => r.getString(0) -> r).toMap
    val s = stats("s")
    assert(s.getLong(1) === 4L && s.getLong(2) === 1L) // n, nulls
    assert(s.getDouble(3) === 0.25)
    assert(s.getLong(4) === 2L) // distinct
    val n = stats("n")
    assert(n.getString(5) === "10" && n.getString(6) === "40")
    // clamping: 40 lands in last bucket
    assert(n.getSeq[Long](7) === Seq(0L, 1L, 1L, 2L))
  }

  test("ColumnStats.frequentValues: k columns in one pass, exact in the big-capacity regime") {
    import graft.quality.ColumnStats
    val df = Seq(
      ("a", "x"), ("a", "y"), ("b", "x"), ("a", "x"), (null, "x")
    ).toDF("c1", "c2").repartition(3)
    val got = ColumnStats.frequentValues(df, Seq("c1", "c2"), 8)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("c1", "a") -> 3L, ("c1", "b") -> 1L, // null c1 skipped
      ("c2", "x") -> 4L, ("c2", "y") -> 1L))
    // one pass: a single scan feeds one aggregate — never a per-column
    // groupBy or a re-run of the aggregation per exploded column
    val plan = ColumnStats.frequentValues(df, Seq("c1", "c2"), 8)
      .queryExecution.executedPlan.toString
    assert("LocalTableScan".r.findAllIn(plan).size === 1,
      s"profile must scan the input once:\n$plan")
  }

  test("ColumnStats: HLL distinct within rsd of exact") {
    val df = (1 to 10000).toDF("x")
    val hll = ColumnStats.compute(df, Seq(ColumnStats.Request("x", hllRsd = 0.02)))
      .collect().head.getLong(4)
    assert(math.abs(hll - 10000) < 10000 * 0.06)
  }

  test("Drift: identical histograms -> statistic 0, no drift") {
    val h = Array(10L, 20L, 30L, 5L)
    assert(Drift.chiSquare(h, h, 1.0).statistic === 0.0)
    assert(Drift.ks(h, h, 0.01).statistic === 0.0)
  }

  test("Drift.psi: zero on identical, symmetric-ish magnitude on shift, smoothing handles empties") {
    import graft.quality.Drift
    val a = Array(100L, 200L, 300L, 0L)
    assert(Drift.psi(a, a).statistic === 0.0)
    val shifted = Array(300L, 200L, 100L, 0L)
    val r = Drift.psi(a, shifted)
    assert(r.statistic > 0.2 && r.drifted, s"shift must flag: $r")
    // an empty bucket on one side only is finite thanks to smoothing
    val empt = Drift.psi(Array(100L, 0L), Array(50L, 50L))
    assert(!empt.statistic.isInfinite && !empt.statistic.isNaN)
    assert(Drift.psi(Array(0L, 0L), Array(1L, 1L)).statistic === 0.0) // n1=0 guard
  }

  test("Drift: shifted histograms flagged") {
    val a = Array(100L, 100L, 0L, 0L)
    val b = Array(0L, 0L, 100L, 100L)
    val chi = Drift.chiSquare(a, b, 21.0)
    val ks = Drift.ks(a, b, 0.1)
    assert(chi.drifted && chi.statistic > 100)
    assert(ks.drifted && ks.statistic === 1.0)
    // scale-invariance of KS under sample-size imbalance
    val b10 = b.map(_ * 10)
    assert(Drift.ks(a, b10, 0.1).statistic === 1.0)
  }

  test("Uniqueness: salted duplicates == naive groupBy, any salt width") {
    val df = Seq(("r1", "a"), ("r1", "a"), ("r1", "a"), ("r2", "b"), ("r3", "c"),
      ("r3", "c")).toDF("repo", "path")
    for (buckets <- Seq(1, 2, 64)) {
      val got = Uniqueness.duplicates(df, Seq("repo", "path"), buckets)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got === Set(("r1", "a", 3L), ("r3", "c", 2L)), s"buckets=$buckets")
    }
  }

  test("Uniqueness: first-wins dedup keeps min tiebreak, idempotent") {
    val df = Seq((3L, "k1", "v3"), (1L, "k1", "v1"), (2L, "k1", "v2"),
      (5L, "k2", "v5")).toDF("id", "k", "v")
    val out = Uniqueness.dedupFirstWins(df, Seq("k"), "id")
    val got = out.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set((1L, "k1", "v1"), (5L, "k2", "v5")))
    val again = Uniqueness.dedupFirstWins(out, Seq("k"), "id")
    assert(again.collect().length === 2)
  }

  test("Referential: broadcast anti-join finds missing keys; NULL not a violation") {
    val fact = Seq(Some("en"), Some("zz"), None, Some("fr"), Some("zz"))
      .toDF("lang")
    val dim = Seq("en", "fr", "de").toDF("code")
    val v = Referential.violationSummary(fact, "lang", dim, "code").collect()
    assert(v.length === 1)
    assert(v.head.getString(0) === "zz" && v.head.getLong(1) === 2L)
    // plan check: must be a broadcast join, not a shuffle join
    val plan = Referential.violations(fact, "lang", dim, "code")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast join in:\n$plan")
  }

  test("Referential.bloomViolations: confirm mode row-equal to the exact anti-join") {
    val rnd = new scala.util.Random(7)
    val fact = ((0 until 400).map(i => (i.toLong, Some(rnd.nextInt(300).toLong))) :+
      (400L, Option.empty[Long]) :+ (401L, Option.empty[Long]))
      .toDF("row_id", "k").repartition(5)
    val dim = (0L until 300L).filter(_ % 3 != 0).toDF("dk").repartition(3)
    val exact = Referential.violations(fact, "k", dim, "dk")
      .collect().map(r => (r.getAs[Long]("row_id"), r.getAs[Long]("k"))).toSet
    assert(exact.nonEmpty, "fixture must contain violations")
    // a tight filter (high fpp pressure) still yields the exact answer
    val viaBloom = Referential.bloomViolations(fact, "k", dim, "dk",
      expectedItems = 200, fpp = 0.2)
      .collect().map(r => (r.getAs[Long]("row_id"), r.getAs[Long]("k"))).toSet
    assert(viaBloom === exact)
    val summary = Referential.bloomViolationSummary(fact, "k", dim, "dk",
      expectedItems = 300, fpp = 0.03)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantSummary = exact.groupBy(_._2).map { case (k, rs) => k -> rs.size.toLong }
    assert(summary === wantSummary)
  }

  test("Referential.bloomViolations: monitor mode is an exact-precision subset and shuffle-free") {
    val fact = (0 until 1000).map(i => (i.toLong, (i % 500).toLong))
      .toDF("row_id", "k").repartition(4)
    val dim = (0L until 500L).filter(_ % 5 != 0).toDF("dk")
    val exact = Referential.violations(fact, "k", dim, "dk")
      .collect().map(_.getAs[Long]("row_id")).toSet
    val monitor = Referential.bloomViolations(fact, "k", dim, "dk",
      expectedItems = 500, fpp = 0.01, confirm = false)
    val flagged = monitor.collect().map(_.getAs[Long]("row_id")).toSet
    // no false negatives in the filter => nothing flagged is innocent
    assert(flagged.subsetOf(exact), s"innocent rows flagged: ${(flagged -- exact).take(5)}")
    // at 1% fpp over this corpus the filter should catch nearly everything
    assert(flagged.size >= (exact.size * 0.9).toInt,
      s"recall collapsed: ${flagged.size} of ${exact.size}")
    // the monitoring shape is ONE codegen'd filter over the scan — no
    // exchange anywhere (the whole point at 100 TB). Plan-check against a
    // real parquet scan: a LocalRelation fixture would be folded by
    // ConvertToLocalRelation (the filter evaluates at plan time) and a
    // repartition()ed one carries its own Exchange.
    val dir = java.nio.file.Files.createTempDirectory("bloom_plan").toString
    (0 until 100).map(i => (i.toLong, (i % 50).toLong))
      .toDF("row_id", "k").write.mode("overwrite").parquet(dir)
    val plan = Referential.bloomViolations(spark.read.parquet(dir), "k",
      dim, "dk", expectedItems = 500, fpp = 0.01, confirm = false)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"monitor mode must not shuffle:\n$plan")
    assert(plan.contains("bloom_might_contain"), s"kernel missing from plan:\n$plan")
  }

  test("moments: mean/variance/skewness/kurtosis match a driver reference " +
      "from exact sums; constant group yields NULL shape stats") {
    val rnd = new scala.util.Random(79)
    val rows = (0 until 600).map { i =>
      (s"g${i % 3}", if (i % 3 == 2) 42L else rnd.nextInt(1000).toLong)
    }
    val got = ColumnStats.moments(rows.toDF("g", "v").repartition(6), "v", Seq("g"))
      .collect().map(r => r.getString(0) -> r).toMap
    for (g <- Seq("g0", "g1")) {
      val vs = rows.filter(_._1 == g).map(_._2.toDouble)
      val n = vs.size.toDouble
      val mean = vs.sum / n
      val m2 = vs.map(x => math.pow(x - mean, 2)).sum / n
      val m3 = vs.map(x => math.pow(x - mean, 3)).sum / n
      val m4 = vs.map(x => math.pow(x - mean, 4)).sum / n
      val r = got(g)
      assert(r.getLong(1) === vs.size.toLong)
      assert(math.abs(r.getDouble(2) - mean) < 1e-6, s"$g mean")
      assert(math.abs(r.getDouble(3) - m2) < 1e-4, s"$g var")
      assert(math.abs(r.getDouble(4) - m3 / math.pow(m2, 1.5)) < 1e-6, s"$g skew")
      assert(math.abs(r.getDouble(5) - (m4 / (m2 * m2) - 3.0)) < 1e-6, s"$g kurt")
    }
    // constant group: variance 0, shape stats NULL (not NaN/infinity)
    val c = got("g2")
    assert(c.getDouble(3) === 0.0 && c.isNullAt(4) && c.isNullAt(5))
  }

  test("percentiles: exact path matches the R-7 reference; approx path " +
      "honors the rank-error bound and returns actual data values") {
    val rnd = new scala.util.Random(47)
    val rows = (0 until 900).map(i => (s"g${i % 3}", rnd.nextInt(10000).toLong))
    val df = rows.toDF("g", "v").repartition(6)
    val ps = Seq(0.25, 0.5, 0.75, 0.95)

    // R-7 (linear interpolation at rank p*(n-1)) — the quantile_cont contract
    def r7(sorted: IndexedSeq[Long], p: Double): Double = {
      val pos = p * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
    }
    val byG = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).sorted.toIndexedSeq
    }
    val got = ColumnStats.percentiles(df, "v", Seq("g"), ps)
      .collect().map(r => r.getString(0) ->
        ps.indices.map(i => r.getDouble(i + 1))).toMap
    for ((g, sorted) <- byG; (p, i) <- ps.zipWithIndex) {
      val want = BigDecimal(r7(sorted, p)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got(g)(i) - want) < 1e-9, s"g=$g p=$p")
    }

    // ungrouped surface works too
    val all = ColumnStats.percentiles(df, "v", Seq.empty, Seq(0.5))
      .collect().head.getDouble(0)
    val allSorted = rows.map(_._2).sorted.toIndexedSeq
    assert(math.abs(all - BigDecimal(r7(allSorted, 0.5)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("correlations: exact +1/-1 on linear columns, null pairs excluded, " +
      "one row per pair") {
    import graft.quality.ColumnStats
    val df = Seq(
      (1.0, 2.0, -1.0, Some(1.0)),
      (2.0, 4.0, -2.0, None),
      (3.0, 6.0, -3.0, Some(3.0)),
      (4.0, 8.0, -4.0, Some(4.0)))
      .toDF("x", "y2", "yneg", "ynull")
    val got = ColumnStats.correlations(df,
      Seq(("x", "y2"), ("x", "yneg"), ("x", "ynull")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(("x", "y2")) === ((4L, 1.0, 3.333333))) // covar_samp of x,2x
    assert(got(("x", "yneg"))._2 === -1.0)
    val (n, c, _) = got(("x", "ynull"))
    assert(n === 3L && c === 1.0) // the None row pair-excludes
    assert(got.size === 3)
  }

  test("association: nmi=1 on a bijective dependency, mi=0 under " +
      "independence, null rows pair-excluded") {
    import graft.quality.ColumnStats
    // bijective: b is a function of a (and vice versa) -> mi == h_a, nmi == 1
    val dep = Seq(("a1", "b1"), ("a1", "b1"), ("a2", "b2"))
      .toDF("k", "v").repartition(3)
    val d = ColumnStats.association(dep, Seq(("k", "v"))).collect().head
    // h = -(2/3 ln 2/3 + 1/3 ln 1/3) = 0.636514
    assert(d.getAs[Long]("n") === 3L)
    assert(d.getAs[Long]("distinct_a") === 2L)
    assert(d.getAs[Double]("h_a") === 0.636514)
    assert(d.getAs[Double]("h_joint") === 0.636514)
    assert(d.getAs[Double]("mi") === 0.636514)
    assert(d.getAs[Double]("nmi") === 1.0)

    // independent uniform 2x2 -> mi exactly 0 (and the clamp keeps it +0.0)
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("k", "v")
    val i = ColumnStats.association(ind, Seq(("k", "v"))).collect().head
    assert(i.getAs[Double]("mi") === 0.0 && i.getAs[Double]("nmi") === 0.0)
    assert(i.getAs[Double]("h_joint") === 1.386294) // ln 4

    // null on either side pair-excludes; constant column -> NULL nmi
    val nul = Seq((Some("a"), Some("x")), (Some("a"), None),
      (None, Some("y")), (Some("a"), Some("y"))).toDF("k", "v")
    val r = ColumnStats.association(nul, Seq(("k", "v"))).collect().head
    assert(r.getAs[Long]("n") === 2L) // only the two fully-non-null rows
    assert(r.getAs[Long]("distinct_a") === 1L)
    assert(r.getAs[Double]("h_a") === 0.0) // constant k
    assert(r.isNullAt(r.fieldIndex("nmi"))) // h_a*h_b == 0 -> NULL
  }

  test("anomaly robustZ: median/MAD modified z-score flags the planted " +
      "outlier; mad=0 degenerates to NULL z and no flags") {
    import graft.quality.Anomaly
    val m = Seq(("g1", 10), ("g2", 10), ("g3", 10), ("g4", 11),
      ("g5", 9), ("g6", 12), ("g7", 100)).toDF("k", "x").repartition(3)
    val got = Anomaly.robustZ(m, Seq("k"), "x")
      .collect().map(r => r.getString(0) -> r).toMap
    // sorted: 9 10 10 10 11 12 100 -> median 10; |dev| 0 0 0 1 1 2 90 -> mad 1
    assert(got("g1").getAs[Double]("median") === 10.0)
    assert(got("g1").getAs[Double]("mad") === 1.0)
    // 90 / 1.4826 = 60.704168...
    assert(got("g7").getAs[Double]("robust_z") === 60.704168)
    assert(got("g7").getAs[Boolean]("anomalous"))
    assert(got.filter(_._2.getAs[Boolean]("anomalous")).keySet === Set("g7"))
    // 12: z = 2/1.4826 = 1.349 -> inside the 3.5 cut
    assert(!got("g6").getAs[Boolean]("anomalous"))

    // at least half the groups on the median -> mad == 0 -> no scale
    val deg = Seq(("a", 5), ("b", 5), ("c", 5), ("d", 9)).toDF("k", "x")
    val dg = Anomaly.robustZ(deg, Seq("k"), "x").collect()
    assert(dg.forall(r => r.isNullAt(r.fieldIndex("robust_z"))))
    assert(dg.forall(r => !r.getAs[Boolean]("anomalous")))
  }

  test("ConstraintDiscovery.inclusionStats/Violations: containment over distinct sets") {
    val fact = Seq(Some(1L), Some(2L), Some(3L), Some(3L), Some(4L), None)
      .toDF("k").repartition(3)
    val dim = Seq(1L, 2L, 5L).toDF("d")
    val s = ConstraintDiscovery.inclusionStats(fact, "k", dim, "d").collect()(0)
    // distinct non-null fact values {1,2,3,4}; {3,4} missing from {1,2,5}
    assert(s.getAs[Long]("n_distinct") === 4L)
    assert(s.getAs[Long]("n_missing") === 2L)
    assert(s.getAs[Double]("coefficient") === 0.5)

    // full containment: coefficient exactly 1, no violations
    val s2 = ConstraintDiscovery.inclusionStats(
      Seq(1L, 2L).toDF("k"), "k", dim, "d").collect()(0)
    assert(s2.getAs[Long]("n_missing") === 0L)
    assert(s2.getAs[Double]("coefficient") === 1.0)
  }

  test("ConstraintDiscovery.fdViolations/fdStats: determinant -> dependent") {
    val df = Seq(
      ("a", Some("x")), ("a", Some("y")), ("b", Some("x")), ("b", Some("x")),
      ("c", None), ("c", None), ("d", Some("x")), ("d", None))
      .toDF("k", "v").repartition(3)
    val viol = ConstraintDiscovery.fdViolations(df, Seq("k"), "v").collect()
    // only 'a' carries two distinct dependents; NULLs never count as a value
    assert(viol.length === 1)
    assert(viol(0).getString(0) === "a")
    assert(viol(0).getAs[Long]("n_dependent") === 2L)
    assert(viol(0).getAs[Long]("n_rows") === 2L)
  }

  test("ConstraintDiscovery.suggestConstraints: rules fire deterministically from the profile") {
    val df = Seq(
      (1L, Some("a"), "p", 10),
      (2L, Some("b"), "q", 20),
      (3L, Some("a"), "r", 20),
      (4L, None, "s", 30),
      (5L, Some("b"), "t", 40)).toDF("id", "s", "t", "n").repartition(2)
    val got = ConstraintDiscovery.suggestConstraints(df, enumMaxCard = 16)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(got === Map(
      ("id", "not_null") -> "", ("id", "unique") -> "", ("id", "range") -> "[1,5]",
      ("s", "completeness") -> "completeness>=800/1000", ("s", "enum") -> "a|b",
      ("t", "not_null") -> "", ("t", "unique") -> "", ("t", "enum") -> "p|q|r|s|t",
      ("n", "not_null") -> "", ("n", "range") -> "[10,40]"))

    // enumMaxCard gates the value-list pass; unique is refused under approx
    val gated = ConstraintDiscovery.suggestConstraints(df, enumMaxCard = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!gated.exists(_._2 == "enum"))
    val approx = ConstraintDiscovery.suggestConstraints(df, enumMaxCard = 16,
      approxDistinct = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!approx.exists(_._2 == "unique"))
    assert(approx.contains(("id", "not_null")) && approx.contains(("n", "range")))
  }

  test("ConstraintDiscovery.inferFields: every type branch + the priority chain") {
    import graft.model.FieldType
    val df = Seq(
      // bool (beats int: 0/1 are both), int+bounds, big int (no Long bounds),
      // iso, enum (quoted variant strips), str, all-empty
      ("1",  "12", "99999999999999999999", "2024-02-29",         "\"red\"", "free text x", "",   "yes"),
      ("0",  "-3", "1",                    "20240101T120000",    "blue",    "free text y", " ",  "TRUE"),
      ("no", "45", "2",                    "2024-032",           "red",     "free text z", null, ""))
      .toDF("bl", "it", "bigit", "dt", "en", "st", "mt", "req")
      .repartition(2)
    val fs = ConstraintDiscovery.inferFields(df, enumMaxCard = 16)
      .map(f => f.name -> f).toMap
    assert(fs("bl").ftype === FieldType.BoolT)
    assert(fs("it").ftype === FieldType.IntT(Some(-3L), Some(45L)))
    assert(fs("it").detail === "[-3,45]")
    assert(fs("bigit").ftype === FieldType.IntT(None, None)) // > Long.Max
    assert(fs("dt").ftype === FieldType.DateTimeT) // calendar/basic/ordinal forms
    assert(fs("en").ftype === FieldType.EnumT(Seq("blue", "red"))) // quote-stripped
    assert(fs("st").ftype === // tiny vocab: enum legitimately wins over Str
      FieldType.EnumT(Seq("free text x", "free text y", "free text z")))
    assert(fs("mt").ftype === FieldType.StrT(None)) // all-empty: nothing proven
    // required = no empty cell; blank-like (" ") and NULL both count empty
    assert(fs("bl").required && fs("it").required && fs("st").required)
    assert(!fs("mt").required && !fs("req").required)

    // enum cap: 17 distinct strings refuse the enum and fall to Str
    val many = (0 until 17).map(i => f"v$i%02d").toDF("c")
    val f17 = ConstraintDiscovery.inferFields(many, enumMaxCard = 16).head
    assert(f17.ftype === FieldType.StrT(None))
    assert(ConstraintDiscovery.inferFields(many, enumMaxCard = 17).head.ftype
      === FieldType.EnumT((0 until 17).map(i => f"v$i%02d")))
  }

  test("inferFields: a 39+-digit int literal forbids bounds — the " +
      "decimal(38,0) carrier cannot hold it") {
    import graft.engine.Validator
    import graft.model.FieldType
    // "5" and "7" fit in Long; the 41-digit value casts to NULL in the
    // decimal(38,0) min/max carrier — without the unrepresentable-count
    // guard the column would get IntT(5,7), bounds that EXCLUDE real data
    val big = "1" + "0" * 40
    val df = Seq("5", "7", big).toDF("c").repartition(2)
    val f = ConstraintDiscovery.inferFields(df, enumMaxCard = 16).head
    assert(f.ftype === FieldType.IntT(None, None))
    // the round-trip zero-violation guarantee holds: the unbounded Int
    // rule accepts every value, including the one the carrier dropped
    val cl = References.inferChecklist(df, name = "big")
    assert(Validator.validate(df, cl, Validator.Options(rowIdCol = Some("c")))
      .filter(!col(Validator.PassedCol)).count() === 0L)
  }

  test("ConstraintDiscovery.inferChecklist: round-trip zero violations; " +
      "planted violations caught on new data") {
    import graft.engine.Validator
    val df = Seq(
      ("1", "yes", "2024-01-01", "red",  "hello"),
      ("2", "no",  "2024-06-15", "blue", "world"),
      ("3", "",    "2024-12-31", "red",  "again"))
      .toDF("id", "ok", "day", "color", "note").repartition(2)
    val cl = References.inferChecklist(df, name = "auto")
    assert(cl.validateConfig().isRight)
    assert(cl.fieldNames === Seq("id", "ok", "day", "color", "note")) // df order
    // the defining property: the data satisfies its own inferred checklist
    val byId = Validator.Options(rowIdCol = Some("id"))
    val rt = Validator.validate(df, cl, byId)
    assert(rt.filter(!col(Validator.PassedCol)).count() === 0L)
    // new rows breaking the inferred rules ARE violations under it
    val bad = Seq(
      ("x",  "yes",   "2024-01-01", "red",   "fine"), // id not Int
      ("9",  "maybe", "2024-01-01", "blue",  "fine"), // ok not Bool
      ("10", "no",    "01/02/2024", "red",   "fine"), // day not ISO
      ("11", "no",    "2024-01-01", "green", "fine"), // color not in enum
      ("12", "no",    "2024-01-01", "red",   ""))     // note required, empty
      .toDF("id", "ok", "day", "color", "note")
    val checked = Validator.validate(bad, cl, byId)
    assert(checked.filter(!col(Validator.PassedCol)).count() === 5L)
    // bounds travel: id outside [1,3] is invalid under the inferred IntT
    assert(checked.filter(col("id") === "9")
      .select(col(Validator.PassedCol)).head.getBoolean(0) === false)
  }
}
