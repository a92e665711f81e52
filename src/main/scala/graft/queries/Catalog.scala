package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.model.FieldType._
import graft.engine.Validator

/**
 * Driver-facing query catalog: each entry is one operator of the engine run
 * against the synthetic tables in a scale-factor directory, paired (in
 * [[Oracles]]) with equivalent ANSI SQL for the DuckDB correctness gate.
 *
 * The `documents(doc_id, text, lang, source, n_chars)` table stands in for
 * the north_rule's `code_files(repo, path, commit, lang, content)` shape:
 * same untyped-string validation semantics, same per-row verdict contract.
 */
object Catalog {

  def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /**
   * The flagship checklist over `documents`, exercising Enum membership with
   * tri-state unknown handling, regex Str, bounded Int and required fields —
   * one of each reference plugin family that the table's shape supports.
   * `lang2` derives deterministic unknown-term rows (doc_id % 17) so the
   * tri-state path is exercised on real data.
   */
  val docsChecklist: Checklist = Checklist(
    name = "documents",
    fields = Seq(
      FieldDef("doc_id", IntT(min = Some(0)), required = true),
      FieldDef("text", StrT(), required = true),
      FieldDef("lang2", EnumT(Seq("en", "fr", "es", "de")), acceptsUnknown = true),
      FieldDef("source", StrT(Some("^src[0-9]$"))),
      FieldDef("n_chars", IntT(min = Some(50), max = Some(500)))),
    unknownTerms = Seq("not available"))

  def docsWithLang2(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).withColumn("lang2",
      when(col("doc_id") % 17 === 0, lit("not available")).otherwise(col("lang")))

  /** Validated documents with the row verdict + reference-format error. */
  def vVerdict(spark: SparkSession, dir: String): DataFrame =
    Validator.validate(docsWithLang2(spark, dir), docsChecklist,
      Validator.Options(rowIdCol = Some("doc_id"), contentCol = Some("text")))
      .select(col("doc_id"), col(Validator.PassedCol).as("passed"),
        size(col(Validator.ViolationsCol)).as("n_violations"),
        col(Validator.ErrorCol).as("error"),
        col(Validator.ShaCol).as("content_sha256"))
      .orderBy("doc_id")

  /** Exploded structured violation rows (north_star output contract). */
  def vViolations(spark: SparkSession, dir: String): DataFrame = {
    val validated = Validator.validate(docsWithLang2(spark, dir), docsChecklist,
      Validator.Options(rowIdCol = Some("doc_id")))
    Validator.violationRows(validated)
      .orderBy("row_id", "field", "rule_id")
  }

  // --- quality extensions (north_rule) -------------------------------------

  import graft.quality.{ColumnStats, Drift, Uniqueness, Referential, ConstraintDiscovery}

  /** Per-column stats over documents in one aggregation pass
   * (exact distinct here so the DuckDB oracle can reproduce it; the HLL
   * variant is exercised in qColstatsHll / tests). */
  def qColstats(spark: SparkSession, dir: String): DataFrame = {
    import ColumnStats._
    compute(docs(spark, dir), Seq(
      Request("doc_id", exactDistinct = true),
      Request("text", exactDistinct = true),
      Request("lang", exactDistinct = true),
      Request("source", exactDistinct = true),
      Request("n_chars", exactDistinct = true)))
      .select("column", "n_rows", "n_null", "null_ratio", "distinct_count",
        "min_str", "max_str")
      .orderBy("column")
  }

  /** Most-frequent values of the two categorical columns in one pass
   * ([[graft.quality.ColumnStats.frequentValues]], the Misra–Gries
   * sketch per column). Capacity 64 exceeds both cardinalities, so the
   * counts are exact and the oracle is a per-column group-by. */
  def qTopvals(spark: SparkSession, dir: String): DataFrame =
    ColumnStats.frequentValues(docs(spark, dir), Seq("lang", "source"), 64)
      .orderBy("column", "value")

  val nCharsHist: ColumnStats.HistogramSpec = ColumnStats.HistogramSpec(0, 600, 12)

  /** Fixed-bucket histogram of n_chars — computed in ONE conditional-count
   * aggregation (no groupBy shuffle), emitted as (bucket, n) rows. */
  def qHist(spark: SparkSession, dir: String): DataFrame = {
    val counts = ColumnStats.histogram(docs(spark, dir), "n_chars", nCharsHist)
    import spark.implicits._
    counts.toSeq.zipWithIndex.map { case (n, b) => (b, n) }
      .toDF("bucket", "n").orderBy("bucket")
  }

  /** Distribution drift between the src0-9 and src10-19 halves of documents:
   * both histograms in one conditional-count pass, then chi-square + KS
   * driver-side (O(buckets) math). */
  def qDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val grpB = col("source").rlike("^src1[0-9]$")
    val c = col("n_chars")
    val b = nCharsHist.bucketOf(c)
    val aggs = (0 until nCharsHist.buckets).flatMap { i =>
      Seq(count(when(!grpB && c.isNotNull && b === i, 1)).as(s"a$i"),
        count(when(grpB && c.isNotNull && b === i, 1)).as(s"b$i"))
    }
    val row = d.agg(aggs.head, aggs.tail: _*).collect().head
    val ha = (0 until nCharsHist.buckets).map(i => row.getAs[Long](s"a$i")).toArray
    val hb = (0 until nCharsHist.buckets).map(i => row.getAs[Long](s"b$i")).toArray
    val chi = Drift.chiSquare(ha, hb, threshold = 21.03) // chi2(11 df, p=0.05)
    val ks = Drift.ks(ha, hb, threshold = 0.1)
    val psi = Drift.psi(ha, hb)
    import spark.implicits._
    Seq((ha.sum, hb.sum,
      math.rint(chi.statistic * 1e6) / 1e6, chi.drifted,
      math.rint(ks.statistic * 1e6) / 1e6, ks.drifted,
      math.rint(psi.statistic * 1e6) / 1e6, psi.drifted))
      .toDF("n_a", "n_b", "chi2", "chi2_drifted", "ks", "ks_drifted",
        "psi", "psi_drifted")
  }

  /** Salted-two-phase duplicate detection on a composite key. */
  def qUnique(spark: SparkSession, dir: String): DataFrame =
    Uniqueness.duplicates(docs(spark, dir), Seq("lang", "n_chars"))
      .orderBy("lang", "n_chars")

  /** First-wins dedup (min doc_id per key) via salted min-reduction. */
  def qDedupKeys(spark: SparkSession, dir: String): DataFrame =
    Uniqueness.dedupFirstWins(docs(spark, dir), Seq("lang", "n_chars"), "doc_id")
      .select("lang", "n_chars", "doc_id")
      .orderBy("lang", "n_chars")

  /** Referential integrity via broadcast anti-join: events.user_id against
   * a customer dimension restricted to `c_custkey % 7 != 3`, so violating
   * user ids (≡ 3 mod 7) exist at EVERY scale factor — the original
   * `< 100` threshold was vacuous at sf0.001, where all 15 user ids sit
   * below it (a passing empty-vs-empty compare proves nothing — the
   * round-1 dd_cos_pairs lesson). */
  def qRiUser(spark: SparkSession, dir: String): DataFrame = {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_custkey") % 7 =!= 3)
    Referential.violationSummary(events, "user_id", dim, "c_custkey")
      .orderBy("user_id")
  }

  /** Referential integrity against an in-config literal set (Enum-style):
   * stays a pure filter, no join. */
  def qRiLang(spark: SparkSession, dir: String): DataFrame =
    Referential.setViolations(docs(spark, dir), "lang", Set("en", "fr", "es", "de"))
      .groupBy("lang").agg(count(lit(1)).as("n_rows"))
      .orderBy("lang")

  /** Referential integrity through the Bloom-probe scale path
   * ([[graft.quality.Referential.bloomViolations]], confirm mode): same
   * answer as the broadcast anti-join — which is exactly what the oracle
   * states — arrived at via broadcast Bloom filter + definite/maybe split
   * + shuffled confirm anti-join. The dimension is customer keys with
   * `c_custkey % 10 < 8`, so the violating user ids (≡ 8, 9 mod 10) exist
   * at EVERY scale factor — a fixed threshold like qRiUser's < 100 is
   * vacuous at sf0.001, where all 15 user ids sit below it. */
  def qRiBloom(spark: SparkSession, dir: String): DataFrame = {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_custkey") % 10 < 8)
    Referential.bloomViolationSummary(events.select("event_id", "user_id"),
      "user_id", dim, "c_custkey", expectedItems = 1000, fpp = 0.03)
      .orderBy("user_id")
  }

  /** Backward as-of join ([[graft.ops.Joins.asofJoin]]): each event picks
   * up the latest prior "quote" of its user. The quote table derives
   * deterministically from orders — `user_id = o_custkey % 150`, a
   * timestamp spread through the events' January-2024 window at
   * `o_orderkey % 43200` minutes past Jan 1 — because the raw order dates
   * (1995-2001) all precede every event, which would make the as-of
   * trivially "the max". ~38 events precede their user's first quote and
   * keep NULL quote columns. Oracle: [[Oracles.qAsof]] restates the
   * union-tag + carry-forward-max window in DuckDB SQL (validated against
   * a correlated-subquery ground truth during development). */
  def qAsof(spark: SparkSession, dir: String): DataFrame = {
    val events = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "user_id", "ts")
    val quotes = spark.read.parquet(s"$dir/orders.parquet").select(
      (col("o_custkey") % 150).as("user_id"),
      expr("timestamp'2024-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, 0, 0, cast(o_orderkey % 43200 as int), 0)").as("qts"),
      col("o_orderkey").as("order_key"),
      round(col("o_totalprice"), 2).as("px"))
    graft.ops.Joins.asofJoin(events, quotes, "user_id", "ts", "qts")
      .orderBy("event_id")
  }

  /** The SKEW-SAFE as-of join ([[graft.ops.Joins.asofJoinSkewSafe]],
   * 1-day time buckets): same inputs and output contract as [[qAsof]],
   * with the row-level window partitioned by (user, day) so a hot user
   * never funnels through one partition. Oracle: identical SQL to
   * [[Oracles.qAsof]] — the chunked form must equal the plain form. */
  def qAsofSkew(spark: SparkSession, dir: String): DataFrame = {
    val events = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "user_id", "ts")
    val quotes = spark.read.parquet(s"$dir/orders.parquet").select(
      (col("o_custkey") % 150).as("user_id"),
      expr("timestamp'2024-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, 0, 0, cast(o_orderkey % 43200 as int), 0)").as("qts"),
      col("o_orderkey").as("order_key"),
      round(col("o_totalprice"), 2).as("px"))
    graft.ops.Joins.asofJoinSkewSafe(events, quotes, "user_id", "ts", "qts",
      bucketWidth = 86400L * 1000000L)
      .orderBy("event_id")
  }

  /** Gap-based sessionization ([[graft.ops.Sessionize.sessions]], native
   * session_window): 4-hour inactivity gap over the events stream shape —
   * ~6.9k sessions at sf0.01, ~30% multi-event. Oracle:
   * [[Oracles.evSessions]] restates the adjacent-merge boundary
   * (`ts - lag(ts) > gap` opens a new session; an exact-gap event still
   * merges) with a lag + running-sum window. */
  def evSessions(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sessionize.sessions(
      spark.read.parquet(s"$dir/events.parquet"),
      Seq("user_id"), "ts", "4 hours",
      Seq(round(sum("value"), 6).as("sum_value")))
      .orderBy("user_id", "session_start")

  /** Concatenate-and-chunk sequence packing
   * ([[graft.ops.Sampling.packSequences]]): documents pack into 128-token
   * training chunks per source in doc_id order; ~40% of docs straddle a
   * chunk boundary at this budget. Token counts use the shared
   * whitespace tokenizer; all chunk math is integer-exact, restated
   * verbatim by [[Oracles.qPack]]. */
  def qPack(spark: SparkSession, dir: String): DataFrame = {
    val withTokens = docs(spark, dir).select(col("doc_id"), col("source"),
      graft.ops.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    graft.ops.Sampling.packSequences(withTokens, "doc_id", "n_tokens",
      Seq("source"), budget = 128)
      .select("doc_id", "source", "n_tokens", "chunk_first", "chunk_last",
        "chunk_offset")
      .orderBy("doc_id")
  }

  // --- training-data pipeline ops ------------------------------------------

  import graft.ops.{TextAnalysis, Dedup, Similarity, Multimodal, Clustering, Sampling, Curation}

  /**
   * The ordered output of a per-row query, with its per-row work run once
   * and on every core: `input` is range-partitioned on the leading sort
   * key into `n = max(defaultParallelism, input partitions)` partitions,
   * `derive` runs on that, and the result is ordered by `key, thenBy*`.
   * The range partitioning passes through `derive`'s projections and
   * generators, so the final sort needs no exchange of its own, and the
   * output order is that of `derive(input).orderBy(key, thenBy*)`.
   *
   * Three plan traps make a per-row query slow on full output:
   *  - A global `orderBy` on top of a per-row projection puts a range
   *    exchange above it, and `RangePartitioner` samples by running the
   *    whole child plan: the projection runs twice, once for the sample
   *    and once for the shuffle write. Here the sample runs over the scan.
   *  - A byte-sized input (one small parquet file, one row group) is one
   *    split, so everything above the scan runs in a single task. The
   *    explicit `n` is required: without it AQE coalesces a range exchange
   *    below its `minPartitionSize` back to one partition.
   *  - `InferFiltersFromGenerate` adds a `size(a) > 0` filter for an
   *    `explode`/`posexplode` fed by an attribute `a`, and pushdown then
   *    copies `a`'s defining array expression into that filter, so the
   *    array is built twice. `derive` has to avoid this one itself (see
   *    [[TextAnalysis.tfidfKeywords]]).
   *
   * Do not pre-sort inside: `EliminateSorts` drops an inner global sort
   * under the outer one, which restores the sort-above-projection plan.
   * A `localCheckpoint` inside `derive` loses the partitioning under AQE
   * (its scan reports none), so the final sort then keeps its own range
   * exchange; `derive` still runs on `n` partitions ([[ddSpanrm]]).
   */
  private def sortedRows(input: DataFrame, key: String, thenBy: String*)(
      derive: DataFrame => DataFrame): DataFrame = {
    val n = math.max(input.sparkSession.sparkContext.defaultParallelism,
      input.rdd.getNumPartitions)
    derive(input.repartitionByRange(n, col(key))).orderBy(key, thenBy: _*)
  }

  /** Text-analysis feature extraction: one codegen'd projection per doc. */
  def taFeatures(spark: SparkSession, dir: String): DataFrame =
    sortedRows(docs(spark, dir), "doc_id") { d =>
      TextAnalysis.features(d, "doc_id", "text")
        .drop("n_subwords") // lookaround split is not RE2-expressible for the oracle
    }

  /** Subword counts + rolling hash (no SQL oracle: lookaround regex and
   * wrapping 64-bit arithmetic are outside DuckDB's dialect). */
  def taExtras(spark: SparkSession, dir: String): DataFrame =
    sortedRows(docs(spark, dir), "doc_id") {
      _.select(col("doc_id"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords"),
        TextAnalysis.rollingHash(col("text")).as("rolling_hash"))
    }

  /** Exact-duplicate groups by normalized sha256 fingerprint. The corpus is
   * documents plus deterministic clones (doc_id % 50 == 0, re-keyed +500000,
   * clear of every organic id and of the other plants' key spaces)
   * so duplicate groups exist to find — the synthetic table itself is
   * dup-free. */
  def ddExact(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val clones = d.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 500000)
    Dedup.exactGroups(d.unionByName(clones), "doc_id", "text")
      .select("fingerprint", "keep_id", "group_size")
      .orderBy("fingerprint")
  }

  /** MinHash+LSH near-dup candidate pairs (banding over 32 hashes). The
   * est_jaccard is the signature-agreement estimate. Full-value DuckDB
   * oracle: [[Oracles.ddMinhash]] recomputes shingles, xxhash64 (as pure
   * SQL arithmetic), the 32 affine permutations, band keys and the
   * bucket-join from raw text. */
  def ddMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidates(docs(spark, dir), "doc_id", "text",
      k = 3, numHashes = 32, bands = 8)
      .filter(col("est_jaccard") >= 0.5)
      .orderBy("id_a", "id_b")

  /** Exact 3-gram Jaccard for all pairs inside (lang, n_chars) blocks —
   * the oracle-checkable blocked near-dup form, with the oversized-block
   * guard (blocks > 1000 rows are dropped; none exist at test scale, the
   * cap exists so a hot block can't go quadratic at 100x). */
  def ddNgram(spark: SparkSession, dir: String): DataFrame =
    Dedup.blockedNgramPairs(docs(spark, dir), "doc_id", "text",
      Seq("lang", "n_chars"), k = 3, maxBlockSize = 1000)
      .orderBy("id_a", "id_b")

  /** Deterministic train/val/test assignment (80/10/10) by hashed doc id —
   * stable across runs, partitionings and appends, unlike randomSplit.
   * Oracle: [[Oracles.qSplit]] recomputes Spark's xxhash64 long path as
   * pure SQL arithmetic and applies the same bucket thresholds. */
  def qSplit(spark: SparkSession, dir: String): DataFrame =
    Sampling.hashSplit(docs(spark, dir), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").orderBy("doc_id")

  /** Per-language quota sampling: the 5 best docs per lang by quality
   * score (ties to the smaller id) via the bounded TopKByScore aggregate —
   * the scale-safe "cap per domain" curation step. Oracle: the equivalent
   * row_number() window in DuckDB ([[Oracles.qQuota]]). */
  def qQuota(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val scored = d.select(col("doc_id"), col("lang"),
      TextAnalysis.qualityScore(col("text")).as("quality_score"))
    Sampling.quotaSample(scored, Seq("lang"), "doc_id", "quality_score", 5)
      .orderBy("lang", "doc_id")
  }

  /** Deterministic training-mix resampling: en weighted 2.3 (every doc
   * twice + a hash-selected 30% a third time), fr 0.5, es dropped,
   * everything else 1.0. Oracle ([[Oracles.qMixture]]) recomputes the
   * selection hash (xxhash64 of ~doc_id) in SQL and unnests the same
   * copy counts. */
  def qMixture(spark: SparkSession, dir: String): DataFrame =
    Sampling.mixtureSample(
      docs(spark, dir).select("doc_id", "lang"), "doc_id", "lang",
      Map("en" -> 2.3, "fr" -> 0.5, "es" -> 0.0))
      .orderBy("doc_id", "copy")

  /** Gopher-style repetition profile ([[graft.ops.Curation]]) over a
   * corpus with PLANTED repetitive docs — the raw corpus has no duplicate
   * lines and few duplicate n-grams, so doubled-text clones (+300000) and
   * duplicated-line clones (+400000) make every metric non-vacuous. The
   * clone expressions are engine-portable; [[Oracles.taRepetition]]
   * restates the metric formulas verbatim. */
  def taRepetition(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val doubled = d.filter(col("doc_id") % 60 === 0)
      .withColumn("doc_id", col("doc_id") + 300000)
      .withColumn("text", concat(col("text"), lit(" "), col("text")))
    val multiline = d.filter(col("doc_id") % 75 === 0)
      .withColumn("doc_id", col("doc_id") + 400000)
      .withColumn("text", concat(col("text"), lit("\n"), col("text")))
    sortedRows(d.unionByName(doubled).unionByName(multiline), "doc_id") {
      Curation.repetitionMetrics(_, "doc_id", "text")
    }
  }

  /** Benchmark decontamination: docs with doc_id % 100 == 0 serve as the
   * planted "benchmark" set — they must score contam_frac = 1.0 (their
   * shingles ARE the benchmark) and organic 3-gram overlap is quantified
   * for every other doc. Oracle: [[Oracles.qContam]]. */
  def qContam(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val bench = Curation.benchmarkShingles(
      d.filter(col("doc_id") % 100 === 0), "text", 3)
    Curation.contamination(d, "doc_id", "text", bench, 3).orderBy("doc_id")
  }

  /** Corpus-wide line-level first-wins dedup ([[graft.ops.Curation.dedupLines]],
   * the CCNet paragraph step). The raw docs are single-line, so the corpus
   * plants structure the usual way: exact-clone docs (+500000, every line a
   * cross-document repeat — they dedup to empty) and self-doubled docs
   * (+400000, text||'\n'||text — the intra-document repeat case). Oracle:
   * [[Oracles.ddLines]] closes the same first-occurrence choice with a
   * row_number window over (doc_id, idx). */
  def ddLines(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // one-scan plant (see ddClusters): each row explodes into itself plus
    // its conditional clones instead of a 3-branch union re-reading text
    val self = struct(col("doc_id").as("doc_id"), col("text").as("text"))
    val clone = struct((col("doc_id") + 500000).as("doc_id"), col("text").as("text"))
    val doubled = struct((col("doc_id") + 400000).as("doc_id"),
      concat(col("text"), lit("\n"), col("text")).as("text"))
    val corpus = d.select(explode(concat(
      array(self),
      when(col("doc_id") % 50 === 0, array(clone)).otherwise(array().cast(
        "array<struct<doc_id:bigint,text:string>>")),
      when(col("doc_id") % 75 === 0, array(doubled)).otherwise(array().cast(
        "array<struct<doc_id:bigint,text:string>>")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
    Curation.dedupLines(corpus, "doc_id", "text").orderBy("doc_id")
  }

  /** PII redaction counts + scrubbed text over a corpus with planted
   * addresses (doc_id % 30 gains an email, % 45 an IPv4 + phone — both at
   * % 90); the raw word-stream docs are digit-free, so every count is
   * attributable. Oracle: [[Oracles.taPii]] applies the same three
   * patterns (shared constants, Java-regex/RE2-identical) in the same
   * order. */
  def taPii(spark: SparkSession, dir: String): DataFrame = {
    val planted = docs(spark, dir).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 30 === 0,
        lit(" contact bob123@mail-example.org now")).otherwise(lit("")),
      when(col("doc_id") % 45 === 0,
        lit(" from 192.168.1.42 call +1-555-867-5309")).otherwise(lit("")))
      .as("text"))
    sortedRows(planted, "doc_id") { Curation.redactPii(_, "doc_id", "text") }
  }

  /** URL extraction + domain-blocklist audit over planted URLs (doc_id %
   * 35 gains a blocklisted + a clean URL, % 55 a docs link). Oracle:
   * [[Oracles.taUrls]]. */
  def taUrls(spark: SparkSession, dir: String): DataFrame = {
    val planted = docs(spark, dir).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 35 === 0,
        lit(" see https://spam.example.com/p/123 and http://ok-site.org/index.html"))
        .otherwise(lit("")),
      when(col("doc_id") % 55 === 0,
        lit(" ref https://docs.example.io/guide")).otherwise(lit("")))
      .as("text"))
    Curation.urlAudit(planted, "doc_id", "text",
      Seq("spam.example.com", "malware.example.net"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary with tf/doc-frequency/idf
   * ([[graft.ops.TextAnalysis.vocabulary]]) — one row per distinct token.
   * Oracle: [[Oracles.taVocab]] restates the shared tokenizer and the
   * ln(n_docs/df) formula. */
  def taVocab(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabulary(docs(spark, dir), "doc_id", "text")
      .orderBy("token")

  /** How many merge rounds [[taBpe]] trains — the oracle's chained CTEs
   * are generated for EXACTLY this count. */
  val BpeMerges = 12

  /** Distributed BPE-merge training over the documents corpus
   * ([[graft.ops.TextAnalysis.bpeTrain]]): the first [[BpeMerges]]
   * learned merges with their pair counts, deterministic tie-break.
   * Oracle: [[Oracles.taBpe]] restates every round as a
   * pair-count → top-1 → list_reduce-merge CTE chain. */
  def taBpe(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeTrain(docs(spark, dir), "text", BpeMerges)

  /** Bounded-memory frequent-items sketch over the token stream
   * ([[graft.functions.FreqItemsSketch]], Misra–Gries). Capacity 64
   * exceeds the corpus's distinct-token count, so the sketch runs in its
   * EXACT regime (no decrement ever fires, order-independent) and the
   * oracle is the plain word count; the bounded-capacity error regime is
   * property-spec'd in FunctionsSpec where no SQL oracle can exist. */
  def taHeavy(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).filter(col("text").isNotNull)
      .select(explode(TextAnalysis.tokensLower(col("text"))).as("token"))
      .agg(graft.functions.FreqItemsSketch.sketch(col("token"), 64).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.token").as("token"), col("e.est_count").as("est_count"))
      .orderBy("token")

  /** Deterministic uniform 20-row sample by bottom-k-of-xxhash64
   * ([[graft.ops.Sampling.uniformSample]]): the bounded TopKByScore
   * aggregate, never a global sort. Oracle: [[Oracles.qSample]] restates
   * the hash (SqlXxh64), the double cast and the id tie order. */
  def qSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.uniformSample(docs(spark, dir), "doc_id", 20).orderBy("rank")

  /** Winnowing (MOSS) fingerprint rows per document
   * ([[graft.ops.TextAnalysis.winnowFingerprints]], k=3 word-grams,
   * window 4). Oracle: [[Oracles.taWinnow]] restates the polynomial
   * k-gram hash (list_reduce fold) and the sliding-window minima. */
  def taWinnow(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(TextAnalysis.winnowFingerprints(col("text"), 3, 4))
          .as("fingerprint"))
      .orderBy("doc_id", "fingerprint")

  /** Per-document top-3 TF-IDF keywords
   * ([[graft.ops.TextAnalysis.tfidfKeywords]]). Oracle:
   * [[Oracles.taKeywords]] — the equivalent row_number window with the
   * same score-desc/token-asc tie order. The idf map is built on the
   * unpartitioned docs, so its vocabulary aggregate does not shuffle text. */
  def taKeywords(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val idf = TextAnalysis.idfMap(d, "doc_id", "text")
    sortedRows(d, "doc_id", "rank") {
      TextAnalysis.tfidfKeywords(_, "doc_id", "text", k = 3, idf = Some(idf))
    }
  }

  /** The OPEN-VOCABULARY TF-IDF keyword path
   * ([[graft.ops.TextAnalysis.tfidfKeywordsJoin]]): same corpus, same
   * output contract as [[taKeywords]], computed with zero driver-resident
   * vocabulary — explode + token-keyed join + bounded
   * [[graft.functions.TopKTokens]] per-doc top-k. Oracle: identical SQL to
   * [[Oracles.taKeywords]]; PASSing both queries proves map path == join
   * path == oracle on the same corpus. */
  def taKeywordsJoin(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfKeywordsJoin(docs(spark, dir), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")

  /** Near-dup CLUSTERS: connected components over the >=0.5-Jaccard blocked
   * ngram pair graph, each member labeled with its component's min id (the
   * canonical-doc choice of a dedup pass). The raw corpus has no organic
   * >=0.5 pairs (its max blocked Jaccard is ~0.01), so near-dup clones are
   * planted the way [[ddExact]] plants exact ones: each doc_id % 50 == 0
   * gains a first-token-swapped clone (+100000) and a trailing-token clone
   * (+200000) — a high-Jaccard triple whose component label is the original
   * id. The clone expressions (`substring`/`instr`/`||`) evaluate
   * identically in Spark and DuckDB, so the oracle ([[Oracles.ddClusters]])
   * rebuilds the same corpus and closes the same pair graph with a
   * recursive CTE. */
  def ddClusters(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // Clone planting as ONE scan: each %50 row explodes into its triple,
    // everything else passes through — a 3-branch union would read and
    // decode the text column three times for the same corpus.
    def row(id: org.apache.spark.sql.Column, text: org.apache.spark.sql.Column) =
      struct(id.as("doc_id"),
      text.as("text"), col("lang").as("lang"), col("n_chars").as("n_chars"))
    val self = row(col("doc_id"), col("text"))
    val swapped = row(col("doc_id") + 100000, concat(lit("zzzswap "),
      expr("substring(text, instr(text, ' ') + 1)")))
    val tailed = row(col("doc_id") + 200000,
      concat(col("text"), lit(" qqqtail")))
    val corpus = d.select(explode(
      when(col("doc_id") % 50 === 0, array(self, swapped, tailed))
        .otherwise(array(self))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
        col("r.lang").as("lang"), col("r.n_chars").as("n_chars"))
    // minJaccard switches pair generation to the zero-false-negative
    // prefix-filter join — the >=0.5 cut is what makes it legal (the
    // default all-pairs mode must score every block pair because the
    // caller might keep them all; this caller provably doesn't). The
    // external filter stays as a no-op belt-and-braces.
    val edges = Dedup.blockedNgramPairs(corpus, "doc_id", "text",
      Seq("lang", "n_chars"), k = 3, maxBlockSize = 1000,
      minJaccard = Some(0.5))
      .filter(col("jaccard") >= 0.5)
    Clustering.connectedComponents(edges, "id_a", "id_b").orderBy("id")
  }

  /** SimHash near-dup pairs within Hamming distance 3 (pigeonhole-blocked
   * on 16-bit quarters). Full-value DuckDB oracle: [[Oracles.ddSimhash]]
   * recomputes the xxhash64 signatures from raw text in SQL. */
  def ddSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(spark, dir), "doc_id", "text", maxDist = 3)
      .orderBy("id_a", "id_b")

  /** Embedding near-dup pairs (cosine >= 0.9) blocked by label. The raw
   * synthetic embeddings contain NO pair above 0.9 (round-1 pass was two
   * empty sets agreeing), so the corpus plants deterministic near-dups the
   * way ddExact plants clones: exact clones (cos = 1.0, re-keyed +100000)
   * and first-element-zeroed clones (cos = sqrt(1 - x1^2) ~ 0.99 for these
   * unit vectors, re-keyed +200000). Zeroing instead of adding noise keeps
   * the element values bit-identical across Spark and the DuckDB oracle —
   * no float-vs-double rounding divergence. */
  def ddCosPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "label", "embedding")
    val clones = e.filter(col("vec_id") % 25 === 0)
      .withColumn("vec_id", col("vec_id") + 100000)
    val zeroed = e.filter(col("vec_id") % 40 === 0)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("embedding", concat(array(lit(0.0f)),
        slice(col("embedding"), lit(2), size(col("embedding")) - 1)))
    Dedup.cosineNearDups(e.unionByName(clones).unionByName(zeroed),
      "vec_id", "embedding", "label", threshold = 0.9)
      .orderBy("id_a", "id_b")
  }

  /** Centroids trained by the most recent [[ddSemantic]] run — data-derived
   * like [[lastIvfCentroids]], so the oracle inlines them post-run. */
  @volatile var lastSemCentroids: Option[Array[Array[Double]]] = None

  /** SemDeDup end-to-end ([[graft.ops.Dedup.semanticDedup]]): k-means
   * clusters (the deterministic seeded Lloyd build of [[annIvf]], k=8),
   * in-cluster cosine pairs at >= 0.9, connected components, min-id
   * representative — over the same planted corpus as [[ddCosPairs]]
   * (exact clones +100000 on %25, first-element-zeroed +200000 on %40).
   * Exact clones share a cluster BY CONSTRUCTION (identical vectors,
   * identical argmin), so the pipeline provably removes them; zeroed
   * clones pair up only when assigned with their original — decided
   * identically by the oracle's inlined-centroid argmin
   * ([[Oracles.ddSemantic]]), which restates assignment, the block cap,
   * pair cosines, the recursive component closure and the keep rule. */
  def ddSemantic(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val clones = e.filter(col("vec_id") % 25 === 0)
      .withColumn("vec_id", col("vec_id") + 100000)
    val zeroed = e.filter(col("vec_id") % 40 === 0)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("embedding", concat(array(lit(0.0f)),
        slice(col("embedding"), lit(2), size(col("embedding")) - 1)))
    val corpus = e.unionByName(clones).unionByName(zeroed)
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
      k = 8, iters = 2)
    lastSemCentroids = Some(cents)
    Dedup.semanticDedup(corpus, "vec_id", "embedding", cents, threshold = 0.9)
      .orderBy("vec_id")
  }

  /** Embedding dim used by the most recent [[ddCosLsh]] run — the oracle
   * regenerates the same seeded hyperplanes at this dim. */
  @volatile var lastCosLshDim: Option[Int] = None

  /** Embedding near-dup pairs with NO blocking column: seeded hyperplane
   * LSH buckets as blocks ([[graft.ops.Dedup.cosineNearDupsLsh]]) over the
   * same planted corpus as [[ddCosPairs]]. Exact clones (angle 0) always
   * share a bucket; the zeroed-element clones land per the planes —
   * deterministically, so the oracle ([[Oracles.ddCosLsh]]) recomputes the
   * identical bucket assignment in SQL and matches exactly. */
  def ddCosLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    lastCosLshDim = Some(dim)
    val clones = e.filter(col("vec_id") % 25 === 0)
      .withColumn("vec_id", col("vec_id") + 100000)
    val zeroed = e.filter(col("vec_id") % 40 === 0)
      .withColumn("vec_id", col("vec_id") + 200000)
      .withColumn("embedding", concat(array(lit(0.0f)),
        slice(col("embedding"), lit(2), size(col("embedding")) - 1)))
    Dedup.cosineNearDupsLsh(e.unionByName(clones).unionByName(zeroed),
      "vec_id", "embedding", threshold = 0.9, dim = Some(dim))
      .orderBy("id_a", "id_b")
  }

  /** Brute-force cosine top-10 for the vec_id=0 query vector. */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    Similarity.bruteForceTopK(e.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, 10)
  }

  /** Batch kNN join: top-3 cosine neighbors for each of 5 probe vectors
   * against the whole corpus (broadcast probes, windowed rank). */
  def annKnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    Similarity.knnJoin(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
      .orderBy("probe_id", "rank")
  }

  /** Embedding dim used by the most recent [[annLsh]] run — the oracle
   * regenerates the same seeded hyperplanes, so its dim must track the
   * fixture's actual embedding length, not a hardcoded 64. */
  @volatile var lastLshDim: Option[Int] = None

  /** LSH-bucketed ANN top-10 for the same query (scale path; oracle
   * regenerates the seeded planes at the recorded dim). */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    lastLshDim = Some(q.length)
    val planes = Similarity.hyperplanes(dim = q.length, bits = 4)
    Similarity.annTopK(e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      q, 10, planes)
  }

  /** Centroids used by the most recent [[annIvf]] run in this JVM — the
   * seeded k-means result is data-derived, so the DuckDB oracle cannot
   * restate it; instead Verify inlines THESE exact values into
   * [[Oracles.annIvf]] after the query runs (publish the lookup data, the
   * reference's own design for ontology sets, Plugin/Ontology.pm:63-69). */
  @volatile var lastIvfCentroids: Option[Array[Array[Double]]] = None

  /** IVF-bucketed ANN top-10 (scale path #2). Probes 2 of 8 coarse
   * clusters; the oracle recomputes assignment + probe list + rerank from
   * the recorded centroid table. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val corpus = e.filter(col("vec_id") =!= 0)
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
      k = 8, iters = 2)
    lastIvfCentroids = Some(cents)
    Similarity.ivfTopK(corpus, "vec_id", "embedding", q, 10, cents, nprobe = 2)
  }

  /** Codebooks trained by the most recent [[annPq]] run — data-derived
   * like [[lastIvfCentroids]], inlined into the oracle post-run. */
  @volatile var lastPqCodebooks: Option[Array[Array[Array[Double]]]] = None

  /** Product-quantization ANN ([[graft.ops.Similarity.pqAdcTopK]]):
   * m=8 subspaces × k=16 codes over the 64-dim embeddings (8 code ints
   * per vector — a 32× scan shrink), ADC top-10 for the vec_id=0 query.
   * The oracle ([[Oracles.annPq]]) inlines the trained codebooks and
   * recomputes code assignment (expanded-dot argmin, ties to the lower
   * code — the kernel uses the same arithmetic) and the ADC sum; `code0`
   * pins the assignment bit-for-bit, round-6 absorbs the sum-order ulp. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val corpus = e.filter(col("vec_id") =!= 0)
    val cbs = Similarity.pqCodebooks(corpus, "vec_id", "embedding",
      m = 8, k = 16, iters = 2)
    lastPqCodebooks = Some(cbs)
    Similarity.pqAdcTopK(corpus, "vec_id", "embedding", q, 10, cbs)
  }

  /** Trained (centroids, codebooks) of the most recent [[annIvfPq]] run —
   * inlined into [[Oracles.annIvfPq]] post-run like the IVF/PQ halves. */
  @volatile var lastIvfPqParams: Option[(Array[Array[Double]], Array[Array[Array[Double]]])] = None

  /** IVFADC composition ([[graft.ops.Similarity.ivfAdcTopK]]) — FAISS's
   * IndexIVFPQ shape: coarse-route through nprobe=2 of 8 IVF cells, score
   * survivors with m=8 × k=16 PQ ADC lookups, top-10 for the vec_id=0
   * query. The oracle inlines BOTH trained parameter sets and restates
   * routing (expanded-dot argmin + probe list) and ADC scoring exactly. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val corpus = e.filter(col("vec_id") =!= 0)
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
      k = 8, iters = 2)
    val cbs = Similarity.pqCodebooks(corpus, "vec_id", "embedding",
      m = 8, k = 16, iters = 2)
    lastIvfPqParams = Some((cents, cbs))
    Similarity.ivfAdcTopK(corpus, "vec_id", "embedding", q, 10, cents,
      nprobe = 2, cbs)
  }

  /** Multimodal metadata pass: payload stays unread (column pruning). */
  def mmMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.metadata(
      Multimodal.toAssets(docs(spark, dir), "doc_id", "text", "text", "text/plain"))
      .orderBy("asset_id")

  /** Multimodal feature extraction through the REAL per-partition codecs
   * for all three modalities: each doc_id becomes a real encoded PNG
   * (javax.imageio), a real RIFF/WAV PCM16 payload (+1,000,000 id space)
   * and a GVF1 frame container of real PNGs (+2,000,000); dims, rates and
   * durations follow closed formulas, so the oracle-matched projection
   * proves three end-to-end encode-decode round trips (n_bytes/sha256 are
   * encoder-specific and stay out of the checked projection). */
  def mmFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The id list comes off a single parquet file = ONE partition; the
    // codec work is pure CPU, so spread the ids first or every encode
    // runs on one core (measured 4-8x on the bench). Real asset tables
    // arrive already partitioned — this is the fixture-synthesis path.
    val ids = docs(spark, dir).select(col("doc_id").cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
    val assets = Multimodal.pngAssets(ids)
      .unionByName(Multimodal.wavAssets(ids.map(_ + 1000000L)))
      .unionByName(Multimodal.videoAssets(ids.map(_ + 2000000L)))
    Multimodal.extractFeatures(assets)
      .toDF()
      .select("asset_id", "modality", "width", "height", "duration_ms")
      .orderBy("asset_id")
  }

  /** Real video frame sampling: container-parse each GVF1 asset, decode
   * every 2nd frame, emit (asset_id, frame_idx, true decoded dims) —
   * frame counts and dims follow the generator formulas the oracle
   * restates. */
  def mmFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = docs(spark, dir).select(col("doc_id").cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism) // see mmFeatures
    Multimodal.frameSample(Multimodal.videoAssets(ids), stride = 2)
      .orderBy("asset_id", "frame_idx")
  }

  // --- dependency rules + remaining plugin families on real tables ---------

  /** Cross-field dependency checklist over derived document columns:
   * if(b){then t; else e}, one_of(a,c), some_of(a,c), tri-state unknown in
   * a, required c — the reference's signature rule families end-to-end. */
  val depChecklist: Checklist = Checklist(
    name = "deps",
    fields = Seq(
      FieldDef("b", BoolT),
      FieldDef("t", StrT()),
      FieldDef("e", StrT()),
      FieldDef("a", IntT(), acceptsUnknown = true),
      FieldDef("c", IntT(), required = true)),
    dependencies = Dependencies(
      ifs = Seq(IfDep("b", thens = Seq("t"), elses = Seq("e"))),
      oneOf = Seq(GroupDep("g1", Seq("a", "c"))),
      someOf = Seq(GroupDep("g2", Seq("a", "c")))),
    unknownTerms = Seq("not available"))

  def depFrame(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      when(col("doc_id") % 2 === 0, lit("1")).otherwise(lit("0")).as("b"),
      when(col("doc_id") % 5 === 0, lit(null)).otherwise(col("source")).as("t"),
      when(col("doc_id") % 3 === 0, col("lang")).otherwise(lit(null)).as("e"),
      when(col("doc_id") % 7 === 0, lit("not available"))
        .when(col("doc_id") % 4 === 0, lit(null)).otherwise(lit("1")).as("a"),
      when(col("doc_id") % 6 === 0, lit("2")).otherwise(lit(null)).as("c"))

  def depVerdict(spark: SparkSession, dir: String): DataFrame =
    Validator.validate(depFrame(spark, dir), depChecklist,
      Validator.Options(rowIdCol = Some("doc_id")))
      .select(col("doc_id"), col(Validator.PassedCol).as("passed"),
        size(col(Validator.ViolationsCol)).as("n_violations"),
        col(Validator.ErrorCol).as("error"))
      .orderBy("doc_id")

  def depRuleCounts(spark: SparkSession, dir: String): DataFrame =
    Validator.violationRows(
      Validator.validate(depFrame(spark, dir), depChecklist,
        Validator.Options(rowIdCol = Some("doc_id"))))
      .groupBy("rule_id", "field").agg(count(lit(1)).as("n"))
      .orderBy("rule_id", "field")

  /** DateTime plugin over derived date strings in the reference's accepted
   * and rejected formats (incl. the two-digit-year rejection). */
  def vDatetime(spark: SparkSession, dir: String): DataFrame = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val ds = when(col("o_orderkey") % 5 === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .when(col("o_orderkey") % 5 === 1, date_format(col("o_orderdate"), "yy-MM-dd"))
      .when(col("o_orderkey") % 5 === 2, date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss"))
      .when(col("o_orderkey") % 5 === 3, lit("not-a-date"))
      .otherwise(date_format(col("o_orderdate"), "yyyyMMdd'T'HHmmss"))
    val cl = Checklist("dt", Seq(FieldDef("ds", FieldType.DateTimeT)))
    Validator.validate(orders.select(col("o_orderkey"), ds.as("ds")), cl,
      Validator.Options(rowIdCol = Some("o_orderkey")))
      .select(col("o_orderkey"), col("ds"), col(Validator.PassedCol).as("passed"))
      .orderBy("o_orderkey")
  }

  /** Bool plugin over derived strings from events. */
  def vBool(spark: SparkSession, dir: String): DataFrame = {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val bs = when(col("event_type") === "click", lit("yes"))
      .when(col("event_type") === "view", lit("TRUE"))
      .when(col("event_type") === "purchase", lit("1"))
      .when(col("event_type") === "signup", lit("nope"))
      .otherwise(lit("false"))
    val cl = Checklist("bool", Seq(FieldDef("bs", BoolT)))
    Validator.validate(events.select(col("event_id"), bs.as("bs")), cl,
      Validator.Options(rowIdCol = Some("event_id")))
      .select(col("event_id"), col("bs"), col(Validator.PassedCol).as("passed"))
      .orderBy("event_id")
  }

  /** Taxonomy plugin (id-or-name membership) against sets built from the
   * nation dimension: ids from regions 0-2, names from regions 0-1. */
  def vTaxonomy(spark: SparkSession, dir: String): DataFrame = {
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val rows = nation.select("n_nationkey", "n_name", "n_regionkey").collect()
    val ids = rows.filter(_.getInt(2) <= 2).map(_.getInt(0).toString).toSet
    val names = rows.filter(_.getInt(2) <= 1).map(_.getString(1)).toSet
    val v = when(col("n_nationkey") % 2 === 0, col("n_nationkey").cast("string"))
      .otherwise(col("n_name"))
    val cl = Checklist("tax", Seq(FieldDef("v", FieldType.TaxonomyT(ids, names))))
    Validator.validate(nation.select(col("n_nationkey"), v.as("v")), cl,
      Validator.Options(rowIdCol = Some("n_nationkey")))
      .select(col("n_nationkey"), col("v"), col(Validator.PassedCol).as("passed"))
      .orderBy("n_nationkey")
  }

  /** Nested-set numbering of the region->nation hierarchy (TaxTree dim
   * prep): root 1000, regions 100+key, nations by nationkey. */
  def qTaxtree(spark: SparkSession, dir: String): DataFrame = {
    val nation = spark.read.parquet(s"$dir/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey").collect()
    val region = spark.read.parquet(s"$dir/region.parquet")
      .select("r_regionkey", "r_name").collect()
    val rootId = 1000L
    val nodes: Seq[(Long, Long, String)] =
      Seq((rootId, rootId, "root")) ++
        region.map(r => (100L + r.getInt(0), rootId, "region")) ++
        nation.map(n => (n.getInt(0).toLong, 100L + n.getInt(2), "nation"))
    val names: Map[Long, String] =
      (Seq(rootId -> "ROOT") ++
        region.map(r => (100L + r.getInt(0)) -> r.getString(1)) ++
        nation.map(n => n.getInt(0).toLong -> n.getString(1))).toMap
    val tree = graft.sources.TaxTree.build(nodes, names)
    graft.sources.TaxTree.toDim(spark, tree).orderBy("tax_id")
  }

  /** The DISTRIBUTED nested-set build ([[graft.sources.TaxTree
   * .buildDistributed]]): the same region/nation hierarchy as [[qTaxtree]]
   * constructed as DataFrames (never collected) and numbered by the
   * height-bounded size/lft rounds — must equal the driver DFS exactly.
   * Oracle: identical SQL to [[Oracles.qTaxtree]]. */
  def qTaxtreeDist(spark: SparkSession, dir: String): DataFrame = {
    val rootId = 1000L
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val region = spark.read.parquet(s"$dir/region.parquet")
    val nodes = spark.range(1).select(lit(rootId).as("tax_id"),
        lit(rootId).as("parent_tax_id"), lit("root").as("rank"))
      .unionByName(region.select((col("r_regionkey") + 100L).as("tax_id"),
        lit(rootId).as("parent_tax_id"), lit("region").as("rank")))
      .unionByName(nation.select(col("n_nationkey").cast("long").as("tax_id"),
        (col("n_regionkey") + 100L).as("parent_tax_id"), lit("nation").as("rank")))
    val names = spark.range(1).select(lit(rootId).as("tax_id"), lit("ROOT").as("name"))
      .unionByName(region.select((col("r_regionkey") + 100L).as("tax_id"),
        col("r_name").as("name")))
      .unionByName(nation.select(col("n_nationkey").cast("long").as("tax_id"),
        col("n_name").as("name")))
    graft.sources.TaxTree.buildDistributed(nodes, names).orderBy("tax_id")
  }

  /** Subtree membership via the nested-set invariant — descendants of the
   * region node 102 are exactly the rows with a.lft < d.lft AND d.rgt <
   * a.rgt (one broadcast of the single ancestor row; the descendant test is
   * a pure range predicate, no recursion at query time — the whole point of
   * the lft/rgt numbering, reference TaxTree.pm:207-212). */
  def qTaxDesc(spark: SparkSession, dir: String): DataFrame = {
    val dim = qTaxtree(spark, dir)
    val anc = dim.filter(col("tax_id") === 102)
      .select(col("lft").as("alft"), col("rgt").as("argt"))
    dim.join(broadcast(anc),
      col("lft") > col("alft") && col("rgt") < col("argt"))
      .select("tax_id", "name", "lft", "rgt", "parent_tax_id")
      .orderBy("tax_id")
  }

  /** Tumbling-window aggregation over the events stream shape (the batch
   * equivalent of the streaming violation-rate query). */
  def evWindow(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("ws", "event_type")

  /** Point-in-interval range join ([[graft.ops.Joins.rangeJoin]]): which
   * 10-70-minute promotion windows (derived from orders, same key/time
   * derivation as [[qAsof]]'s quotes) was each event inside — bucketized
   * at 1-hour width into a plain equi-join; the naive formulation plans a
   * BroadcastNestedLoopJoin (PlanSpec pins the difference). Oracle:
   * the plain inequality join [[Oracles.qRange]]. */
  def qRange(spark: SparkSession, dir: String): DataFrame = {
    val events = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "user_id", "ts")
    val windows = spark.read.parquet(s"$dir/orders.parquet").select(
      (col("o_custkey") % 150).as("user_id"),
      expr("timestamp'2024-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, 0, 0, cast(o_orderkey % 43200 as int), 0)").as("w_start"),
      expr("timestamp'2024-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, 0, 0, cast(o_orderkey % 43200 + (o_orderkey % 7 + 1) * 10 as int), 0)")
        .as("w_end"),
      col("o_orderkey").as("order_key"))
    graft.ops.Joins.rangeJoin(events, windows, Seq("user_id"),
      "ts", "w_start", "w_end", bucketWidth = 3600L * 1000000L)
      .select("event_id", "user_id", "ts", "order_key")
      .orderBy("event_id", "order_key")
  }

  /** Skew-proof salted equi-join ([[graft.ops.Joins.saltedJoin]]):
   * lineitem joined to a 3-row weight dim on `l_returnflag` — THREE
   * distinct keys over the whole table, the worst-case hot-key shape a
   * plain shuffle join serializes onto three reducers. Weights are dyadic
   * (0.25/0.5/1.0) and quantities integral, so the weighted sum is EXACT
   * in double regardless of accumulation order — no float-order hazard
   * between engines. Oracle: the plain (unsalted) join [[Oracles.qSalted]],
   * proving result identity. */
  def qSalted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    val dim = Seq(("A", 0.5), ("N", 1.0), ("R", 0.25))
      .toDF("l_returnflag", "weight")
    graft.ops.Joins.saltedJoin(li, dim, Seq("l_returnflag"), numSalts = 16)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity") * col("weight")).as("wqty"))
      .orderBy("l_returnflag")
  }

  /** Deterministic per-stratum sampling ([[graft.ops.Sampling
   * .stratifiedSample]]): documents down-sampled per source at fractions
   * cycling 0/0.25/0.5/0.75/1.0 (src<i> gets (i%5)*0.25) — the
   * "rebalance over-represented sources" curation step, reproducible and
   * append-stable where `sampleBy`'s RNG is neither. Oracle restates the
   * xxhash64 bucket via [[SqlXxh64.hashLongStages]] and the same floor'd
   * thresholds. */
  /** Shared with [[Oracles.qStrat]], which interpolates the SAME map into
   * its CASE thresholds — a fixture source outside this map is dropped by
   * the engine AND scores threshold 0 in the oracle, by construction. */
  val qStratFractions: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (i % 5) * 0.25).toMap

  def qStrat(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratifiedSample(docs(spark, dir),
      "source", "doc_id", qStratFractions)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")

  /** Int8 scalar quantization + quantized ANN ([[graft.ops.Similarity
   * .quantizeInt8]]): per-dim min/max calibration (one partial-agg pass),
   * exact integer codes (`code0` pins the quantizer bit-for-bit), then
   * top-10 by cosine over midpoint-RECONSTRUCTED vectors against the
   * reconstructed vec_id=0 probe — the 4x-smaller storage path an ANN
   * scan would read at 100 TB. Oracle recomputes calibration, codes and
   * reconstruction in SQL ([[Oracles.annQuant]]). */
  def annQuant(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val (mins, maxs) = Similarity.quantizationParams(e, "embedding")
    val coded = e.select(col("vec_id"),
      Similarity.quantizeInt8(col("embedding"), mins, maxs).as("qcode"))
    // reconstruct the probe through the SAME dequantize expression the
    // corpus side uses — one formula, one place to maintain
    val probeVec = coded.filter(col("vec_id") === 0)
      .select(Similarity.dequantizeInt8(col("qcode"), mins, maxs))
      .head().getSeq[Double](0)
    coded.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        element_at(col("qcode"), 1).cast("int").as("code0"),
        round(graft.functions.VectorKernels.cosine(
          Similarity.dequantizeInt8(col("qcode"), mins, maxs),
          typedLit(probeVec.toSeq)), 6).as("qcos"))
      .orderBy(col("qcos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Weighted sample without replacement ([[graft.ops.Sampling
   * .weightedSample]], A-ES keys): top-20 documents under weight
   * n_chars/100 — longer docs proportionally likelier, short ones still
   * reachable. Oracle recomputes the hash-uniform via SqlXxh64 and the
   * identical `pow(u, 1/w)` expression. */
  def qWsample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.weightedSample(
      docs(spark, dir).withColumn("w", col("n_chars") / 100.0),
      "doc_id", "w", k = 20)

  /** Pairwise correlation ([[graft.quality.ColumnStats.correlations]]):
   * three lineitem pairs in ONE aggregation pass — cross-column drift
   * statistics beside the per-column moments. The oracle compares
   * corr + pair-count only: corr is a scale-free ratio where round-6
   * sits far above summation-order skew, while covar_samp's low-order
   * bits depend on partial-merge order at ~1e5 magnitude — it stays
   * spec-gated (QualitySpec) rather than oracle-compared. */
  def qCorr(spark: SparkSession, dir: String): DataFrame =
    graft.quality.ColumnStats.correlations(
      spark.read.parquet(s"$dir/lineitem.parquet"),
      Seq(("l_quantity", "l_extendedprice"),
        ("l_extendedprice", "l_discount"),
        ("l_tax", "l_discount")))
      .drop("covar_samp")
      .orderBy("col_a", "col_b")

  /** Categorical mutual information ([[graft.quality.ColumnStats
   * .association]]): three documents pairs — (lang, source) the
   * independence case, the symmetric flip (MI is symmetric; the two rows
   * must agree), and the self-pair (lang, lang) where nmi must hit
   * exactly 1. One row-scale shuffle per pair (the joint cell count),
   * everything after is dimension-scale. */
  def qMi(spark: SparkSession, dir: String): DataFrame =
    graft.quality.ColumnStats.association(docs(spark, dir),
      Seq(("lang", "source"), ("source", "lang"), ("lang", "lang")))
      .orderBy("col_a", "col_b")

  /** Robust-z anomaly detection ([[graft.quality.Anomaly.robustZ]]) over
   * a per-customer order-count metrics frame — the metrics are integer
   * counts so median/MAD interpolate exactly on both engines; the oracle
   * restates the 1.4826·MAD modified z-score and the unrounded-|z|
   * threshold compare verbatim. */
  def qAnomaly(spark: SparkSession, dir: String): DataFrame =
    graft.quality.Anomaly.robustZ(
      spark.read.parquet(s"$dir/orders.parquet")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders")),
      Seq("o_custkey"), "n_orders")
      .orderBy("o_custkey")

  /** Per-language distribution moments of n_chars
   * ([[graft.quality.ColumnStats.moments]]): mean/variance/skewness/
   * excess kurtosis from EXACT decimal power sums — accumulation-order-
   * independent, so the oracle's HUGEINT sums land on identical doubles
   * before the O(groups) moment formulas. */
  def qMoments(spark: SparkSession, dir: String): DataFrame =
    graft.quality.ColumnStats.moments(docs(spark, dir), "n_chars", Seq("lang"))
      .orderBy("lang")

  /** BM25 top-10 for the query ["hash", "join", "spark"]
   * ([[graft.ops.TextAnalysis.bm25TopK]]): one stats pass, one
   * shuffle-free scoring projection, bounded top-k — no Window, no global
   * sort. Oracle restates the Robertson+1 idf and the Okapi term formula
   * verbatim ([[Oracles.qBm25]]). */
  def qBm25(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.bm25TopK(docs(spark, dir), "doc_id", "text",
      Seq("hash", "join", "spark"), k = 10)

  /** BATCH BM25 ([[graft.ops.TextAnalysis.bm25SearchJoin]]): three queries
   * scored in ONE distributed job over query-term-restricted postings —
   * the inverted-index shape for thousands of queries. Stats exclude
   * NULL-text rows and only docs sharing >= 1 query term rank (the
   * documented batch contract); oracle restates formula, restriction and
   * (score DESC, doc_id) ties. */
  def qBm25Batch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val queries = Seq(
      (1L, "hash"), (1L, "join"), (1L, "spark"),
      (2L, "data"), (2L, "scan"), (3L, "the"))
      .toDF("query_id", "term")
    graft.ops.TextAnalysis.bm25SearchJoin(docs(spark, dir), "doc_id", "text",
      queries, "query_id", "term", k = 10)
      .orderBy("query_id", "rank")
  }

  /** Incremental exact dedup ([[graft.ops.Dedup.incrementalExact]]) — the
   * production delta-vs-catalog shape: even doc_ids re-arrive at +500000
   * (byte-clones for doc_id%4==0 → caught by the catalog; ' fresh v2'
   * edits otherwise → kept), and doc_id%10==2 re-arrives AGAIN at +600000
   * with the SAME v2 edit (within-delta duplicate → first-wins by id).
   * Survivors carry the fingerprint the caller would append back to the
   * catalog. */
  def ddInc(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val batchA = d.filter(col("doc_id") % 2 === 0).select(
      (col("doc_id") + 500000).as("doc_id"),
      when(col("doc_id") % 4 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" fresh v2"))).as("text"))
    val batchB = d.filter(col("doc_id") % 10 === 2).select(
      (col("doc_id") + 600000).as("doc_id"),
      concat(col("text"), lit(" fresh v2")).as("text"))
    val seen = d.select(
      graft.ops.TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    graft.ops.Dedup.incrementalExact(batchA.unionByName(batchB),
      "doc_id", "text", seen, "fingerprint")
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")
  }

  /** Unicode NFC normalization ([[graft.functions.NfcNormalize]]): combining
   * sequences are PLANTED deterministically (a→a+U+0301 on doc_id%3,
   * o→o+U+0308 on doc_id%5, applied in that order) and normalized back to
   * precomposed form; sha256 of the normalized text pins the result
   * byte-for-byte against DuckDB's utf8proc `nfc_normalize` (canonical
   * composition is Unicode-stability-guaranteed, so the engines agree).
   * ASCII rows exercise the untouched fast path (changed = false). */
  def taNorm(spark: SparkSession, dir: String): DataFrame = {
    val withA = when(col("doc_id") % 3 === 0,
      replace(col("text"), lit("a"), lit("a\u0301"))).otherwise(col("text"))
    val planted = when(col("doc_id") % 5 === 0,
      replace(withA, lit("o"), lit("o\u0308"))).otherwise(withA)
    docs(spark, dir).select(col("doc_id"), planted.as("t"))
      .select(col("doc_id"), col("t"),
        graft.functions.NfcNormalize.normalize(col("t")).as("norm"))
      .select(col("doc_id"),
        octet_length(col("t")).as("n_raw_bytes"),
        octet_length(col("norm")).as("n_norm_bytes"),
        graft.functions.Sha256Hex.column(col("norm")).as("sha"),
        (col("norm") =!= col("t")).as("changed"))
      .orderBy("doc_id")
  }

  /** Per-language exact length percentiles ([[graft.quality.ColumnStats
   * .percentiles]]): p25/p50/p75/p95 of n_chars — the doc-length profile
   * every curation recipe thresholds on. Exact percentiles share DuckDB
   * `quantile_cont`'s R-7 interpolation contract, so the oracle is
   * full-value; the 10^10-row-group regime would need Spark's
   * `percentile_approx`. */
  def qPct(spark: SparkSession, dir: String): DataFrame =
    graft.quality.ColumnStats.percentiles(docs(spark, dir),
      "n_chars", Seq("lang"), Seq(0.25, 0.5, 0.75, 0.95))
      .orderBy("lang")

  /** KMV distinct-count sketch ([[graft.functions.KmvSketch]]) per
   * language over `xxhash64(doc_id)`, at two sketch sizes in ONE
   * aggregation pass: k=32 exercises the estimation regime everywhere,
   * k=512 flips between exact (distinct < 512 at sf0.01) and estimating
   * (sf0.1) — the oracle's CASE covers both. Unlike HLL, every output —
   * kept-count, k-th order statistic, estimate — is a pure function of
   * the data, so DuckDB recomputes the whole sketch from raw doc_ids via
   * the staged SQL XXH64 ([[Oracles.qKmv]]). */
  def qKmv(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvSketch
    val h = xxhash64(col("doc_id"))
    docs(spark, dir).filter(col("doc_id").isNotNull)
      .groupBy(col("lang"))
      .agg(KmvSketch.sketch(h, 32).as("s32"),
        KmvSketch.sketch(h, 512).as("s512"),
        countDistinct(col("doc_id")).as("exact_distinct"))
      .select(col("lang"), col("exact_distinct"),
        col("s32.n_kept").as("n32"),
        col("s32.kth_hash").as("kth32"),
        round(col("s32.est_distinct"), 4).as("est32"),
        col("s512.n_kept").as("n512"),
        col("s512.kth_hash").as("kth512"),
        round(col("s512.est_distinct"), 4).as("est512"))
      .orderBy("lang")
  }

  /** Blocked-term gate ([[graft.ops.Curation.termGate]]): one
   * Aho–Corasick pass over lower(text) counts four dictionary literals —
   * two organic corpus words, a two-word phrase, and a term PLANTED in
   * mixed case on doc_id%9 (exercising the case-fold path). The oracle
   * restates each literal's greedy non-overlapping count as DuckDB
   * replace-arithmetic — the exact semantics the kernel implements. */
  def taBlock(spark: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % 9 === 0,
      concat(col("text"), lit(" BadWord okay BADWORD"))).otherwise(col("text"))
    graft.ops.Curation.termGate(
      docs(spark, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), planted.as("text")),
      "doc_id", "text", Seq("spark", "slow", "hash join", "BadWord"))
      .orderBy("doc_id")
  }

  /** Unigram LM quality score ([[graft.ops.TextAnalysis.lmScore]]) — the
   * CCNet perplexity filter: mean per-token negative log-probability
   * under an add-one unigram model trained on the raw corpus. Scoring
   * happens on a PLANTED variant (doc_id%6 gains an out-of-vocabulary
   * token) so the OOV smoothing path is non-vacuous. Oracle restates the
   * tokenizer, counts and ln((c+1)/(T+V)) in SQL; round-6 absorbs ln's
   * engine ulp skew. */
  def qLm(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val model = graft.ops.TextAnalysis.lmModel(d, "text")
    val scoreDf = d.filter(col("text").isNotNull).select(col("doc_id"),
      when(col("doc_id") % 6 === 0, concat(col("text"), lit(" zq9xoov")))
        .otherwise(col("text")).as("text"))
    graft.ops.TextAnalysis.lmScore(scoreDf, "doc_id", "text", model)
      .orderBy("doc_id")
  }

  /** The OPEN-VOCABULARY LM scoring path ([[graft.ops.TextAnalysis
   * .lmScoreJoin]] over [[graft.ops.TextAnalysis.lmModelDf]]): same
   * planted corpus and output contract as [[qLm]], with the model held as
   * a distributed (token, logp) frame and scoring via left equi-join —
   * no driver-resident vocabulary. Oracle: identical SQL to
   * [[Oracles.qLm]] (round-6 absorbs the summation-order ulp skew the
   * join shape introduces vs the map path's in-document fold). */
  def qLmJoin(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val model = graft.ops.TextAnalysis.lmModelDf(d, "text")
    val scoreDf = d.filter(col("text").isNotNull).select(col("doc_id"),
      when(col("doc_id") % 6 === 0, concat(col("text"), lit(" zq9xoov")))
        .otherwise(col("text")).as("text"))
    graft.ops.TextAnalysis.lmScoreJoin(scoreDf, "doc_id", "text", model)
      .orderBy("doc_id")
  }

  /** CCNet head/middle/tail split ([[graft.ops.TextAnalysis.lmBuckets]])
   * over [[qLm]]'s scored corpus: thresholds = round-6 exact tertiles of
   * avg_nll, bucketing a shuffle-free projection. The oracle recomputes
   * the same LM scores, takes `quantile_cont` tertiles (round-6), and
   * restates the cut. */
  def qLmSplit(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val model = graft.ops.TextAnalysis.lmModel(d, "text")
    val scoreDf = d.filter(col("text").isNotNull).select(col("doc_id"),
      when(col("doc_id") % 6 === 0, concat(col("text"), lit(" zq9xoov")))
        .otherwise(col("text")).as("text"))
    val scored = graft.ops.TextAnalysis.lmScore(scoreDf, "doc_id", "text", model)
    graft.ops.TextAnalysis.lmBuckets(scored, "doc_id").orderBy("doc_id")
  }

  /** Code-point Shannon entropy ([[graft.functions.CharEntropy]]) — the
   * Gopher/C4-style gibberish gate. Planted rows exercise every regime
   * the kernel dispatches on: multibyte single-code-point graphemes
   * (doc_id%4, the slow path — chosen so DuckDB's grapheme split and the
   * kernel's code-point count agree), repeated-char padding (doc_id%7,
   * low entropy), and the ASCII fast path everywhere else. Entropy
   * restated by DuckDB's own `entropy()` aggregate over the char split;
   * round-6 is the house float contract. */
  def taEntropy(spark: SparkSession, dir: String): DataFrame = {
    val withMb = when(col("doc_id") % 4 === 0,
      concat(col("text"), lit(" é✓汉é"))).otherwise(col("text"))
    val planted = when(col("doc_id") % 7 === 0,
      concat(withMb, lit(" zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"))).otherwise(withMb)
    docs(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), planted.as("t"))
      .select(col("doc_id"),
        length(col("t")).as("n_cp"),
        round(graft.functions.CharEntropy.entropy(col("t")), 6)
          .as("char_entropy"))
      .orderBy("doc_id")
  }

  /** Join-size pre-flight ([[graft.ops.Joins.joinSizeProfile]]): exact
   * per-key output cardinality of lineitem ⋈ lineitem[qty > 25] on
   * l_partkey, hottest 10 keys — the skew detector a 100 TB join runs
   * before choosing broadcast/salting. The oracle restates the per-key
   * counts, product and tie order. */
  def qJoinprof(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    graft.ops.Joins.joinSizeProfile(
      li, li.filter(col("l_quantity") > 25), "l_partkey", "l_partkey")
  }

  /** Duplicate-span profiling ([[graft.ops.Dedup.dupSpanStats]], k=3):
   * per-doc fraction of distinct 3-token span hashes shared with another
   * document. The word-salad corpus organically repeats 3-grams across
   * docs, so the signal is non-vacuous without planting. The oracle
   * recomputes the span hashes from raw text with the same staged-SQL
   * XXH64 as dd_minhash and restates doc frequency and the per-doc
   * counts. */
  def taDupspan(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupSpanStats(docs(spark, dir), "doc_id", "text", k = 3)
      .orderBy("doc_id")

  /** EXACT-SUBSTRING DEDUP REMOVAL ([[graft.ops.Dedup.removeDupSpans]],
   * k=3 — the Lee et al. ACL'22 removal step): every duplicated 3-token
   * span keeps its minimal (doc, pos) site; all other sites' positions
   * are removed and text reassembles from survivors. The corpus
   * organically repeats 3-grams across docs (see ta_dupspan), so removal
   * is non-vacuous. Oracle groups by the raw span STRING (Spark shuffles
   * xxhash64 of it — identical grouping barring 2^-64 collisions) and
   * restates winner choice, position coverage and reassembly. */
  def ddSpanrm(spark: SparkSession, dir: String): DataFrame =
    sortedRows(docs(spark, dir), "doc_id") {
      graft.ops.Dedup.removeDupSpans(_, "doc_id", "text", k = 3)
    }

  /** Bigram PMI collocations ([[graft.ops.TextAnalysis.collocations]]):
   * top-20 adjacent pairs by pointwise mutual information at n_pair >= 5.
   * doc_id%4 appends a planted collocation ("neural network") so a pair
   * far above chance provably tops the list; the organic word-salad
   * corpus supplies near-independent pairs around PMI 0. The oracle
   * restates bigram/unigram counts over the shared tokenizer and the
   * identical double association; round-6 absorbs ln's engine ulp. */
  def taPmi(spark: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % 4 === 0,
      concat(col("text"), lit(" neural network"))).otherwise(col("text"))
    TextAnalysis.collocations(
      docs(spark, dir).filter(col("text").isNotNull).select(planted.as("text")),
      "text", minCount = 5, k = 20)
  }

  /** Domain-frequency boilerplate removal
   * ([[graft.ops.Curation.stripBoilerplate]]) over a planted multi-line
   * corpus (the raw docs are single-line): doc_id%3 gains a per-source
   * cookie-notice footer (~33% of each source's docs — boilerplate at
   * maxDocFrac=0.2), doc_id%15 gains a SECOND copy of it (within-doc
   * duplicate: counted once for doc frequency, both copies stripped),
   * doc_id%31 a rare footer that stays under one gate at every SF
   * (minDocs at small SF, the frac gate at sf0.1). The oracle restates
   * doc frequency, both gates (double arithmetic), and ordered
   * reassembly. */
  def taBoiler(spark: SparkSession, dir: String): DataFrame = {
    val cookie = concat(lit("COOKIE NOTICE "), col("source"))
    val t = concat(col("text"),
      when(col("doc_id") % 3 === 0, concat(lit("\n"), cookie)).otherwise(lit("")),
      when(col("doc_id") % 15 === 0, concat(lit("\n"), cookie)).otherwise(lit("")),
      when(col("doc_id") % 31 === 0,
        concat(lit("\nRARE FOOTER "), col("source"))).otherwise(lit("")))
    graft.ops.Curation.stripBoilerplate(
      docs(spark, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), t.as("text")),
      "doc_id", "text", "source", maxDocFrac = 0.2, minDocs = 3)
      .orderBy("doc_id")
  }

  /** Morton (Z-order) sort key over (user_id, minute-of-day) for every
   * event — a 2-D clustering key, checked value-for-value: the oracle
   * restates the bias + 5-step mask-shift bit dilation + interleave +
   * sign flip as pure SQL arithmetic
   * ([[Oracles.qZorder]]). */
  def qZorder(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/events.parquet")
    e.select(col("event_id"),
      graft.functions.ZOrder64.zorder(
        col("user_id").cast("int"),
        (hour(col("ts")) * 60 + minute(col("ts"))).cast("int")).as("zval"))
      .orderBy("event_id")
  }

  /** Inclusion-dependency stats ([[graft.quality.ConstraintDiscovery.inclusionStats]]):
   * how much of events.user_id's value set is contained in a customer
   * dimension restricted to `c_custkey % 7 != 3` — the same restriction as
   * [[qRiUser]], so missing values exist at EVERY scale factor and the
   * coefficient is strictly below 1. One row:
   * (n_distinct, n_missing, coefficient). */
  def qIncl(spark: SparkSession, dir: String): DataFrame = {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_custkey") % 7 =!= 3)
    ConstraintDiscovery.inclusionStats(events, "user_id", dim, "c_custkey")
  }

  /** Functional-dependency violations
   * ([[graft.quality.ConstraintDiscovery.fdViolations]]): does
   * `user_id → event_type` hold over events? (It does not — users emit
   * several event types; every violating user surfaces with its distinct
   * type count.) NULL dependents don't count as a value in either engine. */
  def qFd(spark: SparkSession, dir: String): DataFrame =
    ConstraintDiscovery.fdViolations(
      spark.read.parquet(s"$dir/events.parquet"), Seq("user_id"), "event_type")
      .orderBy("user_id")

  /** Profile-driven constraint suggestion
   * ([[graft.quality.ConstraintDiscovery.suggestConstraints]]) over documents with
   * `source` nullified on 'src3' so the completeness path fires alongside
   * not_null/unique/enum/range — the machine-written first draft of the
   * reference's hand-authored checklist config. */
  def qSuggest(spark: SparkSession, dir: String): DataFrame =
    ConstraintDiscovery.suggestConstraints(
      docs(spark, dir).withColumn("source",
        when(col("source") === "src3", lit(null)).otherwise(col("source"))),
      enumMaxCard = 16)
      .orderBy("column", "rule")

  /** OLAP ROLLUP over the documents dimensions — hierarchical subtotals
   * (lang, source) → (lang) → () in ONE pass: Catalyst expands the rollup
   * to grouping sets inside a single Expand + hash aggregate with
   * map-side partial combine, so the 100 TB cost is one shuffle, not one
   * scan per level. `grouping_id` disambiguates a real NULL dimension
   * value from an aggregated-away level (bit set = rolled up). */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("lang"), col("source"))

  /** Ordered windowed funnel ([[graft.ops.EventAnalytics.funnelCounts]]):
   * view → click → purchase within 6 hours of each user's FIRST view
   * (earliest-anchor greedy — each step takes the earliest event strictly
   * after the previous step's time, within the window of the anchor).
   * ONE shuffle on user_id; the per-user fold is a higher-order
   * `aggregate` over that user's funnel-step events. The oracle restates
   * the greedy semantics as three chained min(ts) aggregates. */
  def evFunnel(spark: SparkSession, dir: String): DataFrame =
    graft.ops.EventAnalytics.funnelCounts(
      spark.read.parquet(s"$dir/events.parquet"),
      Seq("user_id"), "ts", "event_type",
      Seq("view", "click", "purchase"), windowSeconds = 6L * 3600L)
      .orderBy("step")

  /** Cohort retention ([[graft.ops.EventAnalytics.cohortRetention]]) over
   * a deterministically staggered activity stream (each user's events
   * shift by `user_id % 8` weeks and thin to `event_id % 23 = 0`, so
   * cohorts spread and retention actually decays): distinct users of
   * cohort week c active in week c+offset, computed with no join and no
   * countDistinct — one user-keyed aggregate collapses each user to
   * (first week, distinct active weeks). */
  def evCohort(spark: SparkSession, dir: String): DataFrame =
    graft.ops.EventAnalytics.cohortRetention(
      spark.read.parquet(s"$dir/events.parquet")
        .filter(col("event_id") % 23 === 0)
        .select(col("user_id"),
          (col("ts") + expr("make_interval(0, 0, cast(user_id % 8 as int), 0, 0, 0, 0)"))
            .as("ts")),
      Seq("user_id"), "ts")
      .withColumnRenamed("offset", "week_offset")
      .orderBy("cohort", "week_offset")

  /** Fixed-grid resample with gap fill ([[graft.ops.EventAnalytics.resample]]):
   * hourly buckets per event_type over the full observed span — empty
   * buckets zero-fill the count and forward-fill the last observed hourly
   * value sum (metrics-pipeline shape; ~75% of grid cells are gaps at
   * sf0.01). Spine = sequence + explode (never a driver loop); the fill
   * window carries one row of state per key. */
  def evResample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.EventAnalytics.resample(
      spark.read.parquet(s"$dir/events.parquet"),
      Seq("event_type"), "ts", "hour", round(sum("value"), 6))
      .orderBy("event_type", "bucket")

  /** PIVOT with EXPLICIT value list — the dynamic-to-static column
   * rotation of OLAP reporting. Explicit values matter at scale: Spark
   * then compiles the pivot to ONE hash aggregate of conditional
   * expressions (no extra distinct-values job, no second shuffle), the
   * same plan the oracle's FILTER-clause conditional aggregation states
   * directly. */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(col("lang"))
      .pivot("source", Seq("src0", "src1", "src2", "src3"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .orderBy("lang")

  /** Ranking-window family over a deliberately tie-rich ordering:
   * rank / dense_rank (gap vs no-gap on ties), row_number over the
   * TOTAL order (n_chars, doc_id — ties broken, so it is deterministic),
   * percent_rank (one IEEE division of small ints — bit-identical
   * across engines), and a running sum over the total order. One
   * lang-partitioned sort, every function shares the window. */
  def qRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byChars = Window.partitionBy("lang").orderBy(col("n_chars"))
    val total = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    docs(spark, dir).select(col("lang"), col("doc_id"), col("n_chars"),
      rank().over(byChars).cast("long").as("rnk"),
      dense_rank().over(byChars).cast("long").as("drnk"),
      row_number().over(total).cast("long").as("rn"),
      percent_rank().over(byChars).as("prnk"),
      sum(col("n_chars")).over(
        total.rowsBetween(Window.unboundedPreceding, 0)).as("run_chars"))
      .orderBy("lang", "doc_id")
  }

  /** Fixed-point PageRank ([[graft.ops.Graph.pageRankFixedPoint]]) over a
   * deterministic directed graph derived from orders (97 nodes, 37 of
   * them dangling, ~1300 distinct edges at sf0.001): 3 iterations at
   * scale 10^12. All arithmetic is int64 with floor division, so the
   * ranks are independent of aggregation order — the oracle restates the
   * identical integer recurrence and matches bit-for-bit. */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    graft.ops.Graph.pageRankFixedPoint(
      orders.select(
        (col("o_custkey") % 60).cast("long").as("src"),
        ((col("o_orderkey") * 37 + 11) % 97).cast("long").as("dst")),
      "src", "dst", iterations = 3)
      .orderBy("node")
  }

  /** Checklist inference ([[graft.quality.ConstraintDiscovery.checklistProfile]])
   * over a derived string manifest that exercises every type branch:
   * `okey` Int with bounds (required), `flag` Bool-shaped 0/1 with empty
   * cells every 7th row (Bool beats Int in the priority chain, required
   * false), `b` a yes/TRUE/no Bool (required), `d` extended-calendar
   * ISO-8601 dates (DateTime), `pri` the 5-value priority Enum, `cmt`
   * free text (Str). The oracle restates the same priority chain in SQL
   * (Bool/Int shapes as regexes, the ISO subset this frame exercises via
   * try_strptime), so the TYPE decision is data-dependent in both engines. */
  def qCheckinfer(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val frame = o.select(
      col("o_orderkey").cast("string").as("okey"),
      when(col("o_orderkey") % 7 === 0, lit(""))
        .otherwise((col("o_orderkey") % 2).cast("string")).as("flag"),
      when(col("o_orderkey") % 3 === 0, lit("yes"))
        .when(col("o_orderkey") % 3 === 1, lit("TRUE"))
        .otherwise(lit("no")).as("b"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
      col("o_orderpriority").as("pri"),
      // high-cardinality, decimal-pointed → Str in both engines (the
      // rendered string differs across engines; only the TYPE decision
      // feeds the output, and "not Bool/Int/ISO, >16 distinct" agrees)
      col("o_totalprice").cast("string").as("cmt"))
    ConstraintDiscovery.checklistProfile(frame, enumMaxCard = 16)
  }
}
