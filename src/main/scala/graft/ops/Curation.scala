package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus-curation filters: repetition metrics (the Gopher family) and
 * benchmark decontamination — the filter steps between raw web-scale text
 * and a training mix.
 *
 * Repetition metrics follow Rae et al. 2021 ("Scaling Language Models:
 * ... Gopher", appendix A1.1, public) in spirit, as exactly-computable
 * token/line-coverage variants: every metric is a deterministic function
 * of the text alone, built from array builtins (`split` / `array_distinct`
 * / `array_sort` / `aggregate`) inside ONE shuffle-free projection, and
 * restated verbatim by the DuckDB oracle. High values mark
 * boilerplate/spam documents a quality gate should drop. NULL text scores
 * 0.0 on every metric (a missing doc is not "repetitive"; a NULL metric
 * would silently pass `metric > threshold` gates — the failure mode a
 * curation pass exists to prevent).
 *
 * Every multiply-referenced array is LAMBDA-BOUND via the
 * single-element-transform trick ([[Dedup.shingles]]): a non-trivial
 * expression referenced inside HOF lambdas is otherwise re-evaluated per
 * reference, which turns these metrics quadratic in document length (the
 * round-1 ~50x lesson).
 *
 * Decontamination flags training documents whose shingle sets overlap a
 * benchmark/test set — one corpus scan: explode distinct shingles
 * carrying the per-doc count, broadcast-join the benchmark side, count
 * hits with one partial-aggregated groupBy. That is the shape that
 * survives a 10^9-doc corpus against a dimension-sized benchmark.
 */
object Curation {

  /** Word n-grams as strings (space-joined); empty array when the doc has
   * fewer than n tokens or the text is NULL/blank. String n-grams (not
   * hashes) so the DuckDB oracle comparison is exact by construction, no
   * collision caveat. Tokens bind once; the split never re-runs per slot. */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, "ngram width must be >= 1")
    when(text.isNull || trim(text) === "", array().cast("array<string>"))
      .otherwise(flatten(transform(array(TextAnalysis.tokensLower(text)), ts =>
        when(size(ts) < n, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(ts) - n),
            i => concat_ws(" ",
              (0 until n).map(j => element_at(ts, i + j + 1)): _*))))))
  }

  private def ratio(num: Column, den: Column): Column =
    when(den <= 0, lit(0.0)).otherwise(round(num.cast("double") / den, 6))

  // --- metric formulas over an already-bound array --------------------------

  private def dupLineFracOf(l: Column): Column =
    when(size(l) <= 1, lit(0.0))
      .otherwise(round(lit(1.0) -
        size(array_distinct(l)).cast("double") / size(l), 6))

  private def dupLineCharFracOf(l: Column): Column = {
    val total = aggregate(l, lit(0L), (acc, x) => acc + length(x))
    val dist = aggregate(array_distinct(l), lit(0L), (acc, x) => acc + length(x))
    when(total <= 0, lit(0.0))
      .otherwise(round(lit(1.0) - dist.cast("double") / total, 6))
  }

  private def topNgramFracOf(ng: Column): Column = {
    val best = aggregate(
      array_sort(ng),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (s, x) => {
        val run = when(x === s("prev"), s("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"), greatest(s("best"), run).as("best"))
      },
      s => s("best"))
    ratio(best, size(ng))
  }

  private def dupNgramFracOf(ng: Column): Column =
    when(size(ng) <= 0, lit(0.0))
      .otherwise(round(lit(1.0) -
        size(array_distinct(ng)).cast("double") / size(ng), 6))

  // --- repetition profile ---------------------------------------------------

  /** The curated repetition profile, one shuffle-free pass:
   * (id, n_lines, dup_line_frac, dup_line_char_frac, top_bigram_frac,
   * dup_5gram_frac). The line and n-gram arrays materialize once each in
   * a projection boundary (CollapseProject keeps multiply-referenced
   * non-cheap aliases), so the text is tokenized once per n-gram width —
   * not once per metric reference. */
  def repetitionMetrics(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      split(t, "\n").as("__lines"),
      wordNgrams(t, 2).as("__bg"),
      wordNgrams(t, 5).as("__g5"))
      .select(col(idCol),
        coalesce(size(col("__lines")), lit(0)).as("n_lines"),
        coalesce(dupLineFracOf(col("__lines")), lit(0.0)).as("dup_line_frac"),
        coalesce(dupLineCharFracOf(col("__lines")), lit(0.0)).as("dup_line_char_frac"),
        topNgramFracOf(col("__bg")).as("top_bigram_frac"),
        dupNgramFracOf(col("__g5")).as("dup_5gram_frac"))
  }

  /**
   * Benchmark decontamination: for each document, the fraction of its
   * DISTINCT word k-grams that appear in `bench` (one string column of
   * benchmark k-grams). ONE corpus scan: the exploded shingles carry the
   * per-doc shingle count, the benchmark side broadcasts, and hit counts
   * partial-aggregate map-side; a doc scoring near 1.0 IS the benchmark
   * (or quotes it) and must leave the training mix.
   * Returns (idCol, n_shingles, n_hits, contam_frac).
   */
  def contamination(df: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, k: Int = 3): DataFrame = {
    require(bench.columns.length == 1,
      "bench must be a single-column frame of benchmark k-gram strings")
    val benchSh = bench.select(col(bench.columns.head).as("__sh")).distinct()
      .withColumn("__hit", lit(1))
    df.select(col(idCol),
      array_distinct(wordNgrams(col(textCol), k)).as("__shs"))
      .select(col(idCol), size(col("__shs")).as("n_shingles"),
        explode_outer(col("__shs")).as("__sh"))
      .join(broadcast(benchSh), Seq("__sh"), "left")
      .groupBy(col(idCol), col("n_shingles"))
      .agg(count(col("__hit")).as("n_hits"))
      .select(col(idCol), col("n_shingles"), col("n_hits"),
        ratio(col("n_hits"), col("n_shingles")).as("contam_frac"))
  }

  /** The benchmark k-gram set of a document frame — the `bench` input to
   * [[contamination]], built once and broadcast. */
  def benchmarkShingles(bench: DataFrame, textCol: String,
      k: Int = 3): DataFrame =
    bench.select(explode(array_distinct(
      wordNgrams(col(textCol), k))).as("sh")).distinct()

  /**
   * Corpus-wide line-level exact dedup (the CCNet/RefinedWeb paragraph
   * step, Wenzek et al. 2019 §3.1): every line keeps only its FIRST
   * occurrence across the whole corpus — first by (doc id, line index) —
   * and each document is reassembled from its surviving lines. Returns
   * (idCol, n_lines, n_kept, text_dedup); a document whose every line
   * appeared earlier elsewhere dedups to the empty string. Documents with
   * NULL text have no lines and are absent from the output.
   *
   * Scale shape: one logical explode, one partial-aggregated min per
   * distinct line (hot lines — blank lines, boilerplate headers —
   * collapse map-side on the WINNER side), one equi-join of the exploded
   * lines against the winner table on the line key, one per-document
   * re-aggregation. Nothing is ever quadratic. Honest skew note: the
   * PROBE side of the join still shuffles every copy of a hot line to
   * one partition — that funnel is smaller than a row_number window's
   * (the window also sorts and carries (doc,idx) state) but it is not
   * zero; AQE's skew-join split handles it at runtime, and at extreme
   * scale the join key can additionally be salted by (line, doc-hash
   * band) with the winner table replicated per band. The explode also
   * evaluates on both join sides (two scans of `df`) — callers composing
   * this after expensive lineage should checkpoint first.
   */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("__p", "__line")))
      .select(col(idCol), (col("__p") + 1).as("__idx"), col("__line"))
    val winners = lines.groupBy("__line")
      .agg(min(struct(col(idCol), col("__idx"))).as("__w"))
    lines.join(winners, "__line")
      .withColumn("__keep", struct(col(idCol), col("__idx")) === col("__w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_lines"),
        count(when(col("__keep"), 1)).cast("int").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__idx"), col("__line"))))),
          s => s.getField("__line")), "\n").as("text_dedup"))
  }

  /** PII patterns shared verbatim (same source-of-truth string) between the
   * Spark expressions and the DuckDB oracles. Deliberately lookaround-free
   * and `\p`-free so Java regex and RE2 match identically; `\d`/`\b` are
   * ASCII in both. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}"

  /**
   * PII scrub (the BigCode/StarCoder-style redaction step): counts of
   * email / IPv4 / phone matches — each counted INDEPENDENTLY on the raw
   * text — plus the text with all three replaced by
   * `<EMAIL>`/`<IP>`/`<PHONE>`, applied sequentially in that fixed order.
   * Contract notes: a string matching two patterns at once (an
   * IPv4-shaped email domain like `bob@1.2.3.4.ab`) counts under BOTH
   * counters, and the sequential redaction can expose a match the raw
   * counts never saw (email replacement may create a word boundary) —
   * both behaviors are deterministic and engine-symmetric with the
   * oracle, which restates the same counts-on-raw / sequential-replace
   * semantics. One shuffle-free projection; the regexes are
   * deterministic pattern machines, not a learned NER pass — the shape a
   * 100 TB pre-tokenization scrub takes.
   */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("int").as("n_emails"),
      size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).cast("int").as("n_ipv4"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("int").as("n_phones"),
      piiRedact(t).as("redacted"))
  }

  /** The redaction expression [[redactPii]] projects — exposed as a Column
   * so pipeline compositions can scrub in-place inside a wider projection. */
  def piiRedact(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>")

  /** URL regex: scheme + maximal non-whitespace run. Java `\s` includes
   * \x0B where RE2's does not — the oracle restates the class as
   * `[^\s\x0b]` (the round-2 tokenizer lesson, [[TextAnalysis.tokensLower]]). */
  val UrlRe = "https?://[^\\s]+"

  /**
   * URL audit + domain blocklist filter: per document, how many URLs it
   * contains, how many of their domains are blocklisted, the first domain
   * (NULL when URL-free) and the keep verdict (no blocklisted domain).
   * The blocklist is a literal IN-set (broadcast-as-constant, like the
   * Enum validator); domains bind once at a projection boundary so the
   * extract-all runs once per row, not once per output column.
   */
  def urlAudit(df: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "urlAudit needs a non-empty blocklist")
    val domains = transform(regexp_extract_all(col(textCol), lit(UrlRe), lit(0)),
      u => regexp_extract(u, "https?://([^/]+)", 1))
    df.select(col(idCol), domains.as("__d"))
      .select(col(idCol),
        size(col("__d")).cast("int").as("n_urls"),
        size(filter(col("__d"), d => d.isin(blocklist: _*)))
          .cast("int").as("n_blocked"),
        get(col("__d"), lit(0)).as("first_domain"))
      .withColumn("keep", col("n_blocked") === 0)
  }

  /**
   * Blocked-term gate ([[graft.functions.AcMultiLiteralStats]]): one
   * Aho–Corasick pass counts every dictionary literal in `lower(text)` —
   * distinct terms present, total non-overlapping hits, and the C4-style
   * keep verdict (`n_terms <= maxTerms`, default: any hit drops the doc).
   * O(|text| + hits) per row whatever the dictionary size, where |dict|
   * stacked `contains` filters would be O(|dict|·|text|) — the reason
   * C4-scale pipelines precompile their bad-word lists.
   */
  def termGate(df: DataFrame, idCol: String, textCol: String,
      dict: Seq[String], maxTerms: Int = 0): DataFrame =
    df.select(col(idCol),
      graft.functions.AcMultiLiteralStats.stats(lower(col(textCol)),
        dict.map(_.toLowerCase)).as("__s"))
      .select(col(idCol),
        col("__s.n_terms").as("n_terms"),
        col("__s.n_hits").as("n_hits"),
        (col("__s.n_terms") <= maxTerms).as("keep"))

  /**
   * Domain-frequency boilerplate removal — the RefinedWeb/CCNet "line-wise
   * correction": a line occurring in more than `maxDocFrac` of a DOMAIN's
   * documents (and in at least `minDocs` of them — the small-domain guard)
   * is boilerplate (cookie banners, nav bars, footers) and every copy of
   * it is stripped; document text is reassembled from the surviving lines
   * in original order. Distinct from [[dedupLines]], which keeps a line's
   * FIRST corpus occurrence: boilerplate removal drops ALL occurrences,
   * and only of lines frequent WITHIN their domain.
   *
   * Scale shape: two aggregations (domain doc counts — a broadcast-sized
   * dim — and per-(domain,line) doc frequency with map-side partials over
   * a distinct'd explode), then ONE broadcast join back onto the lines.
   * The boilerplate table is provably broadcast-safe by pigeonhole: each
   * boilerplate line consumes > maxDocFrac·n_docs of a domain's
   * n_docs·avgLines line-doc incidences, so a domain can have at most
   * avgLines/maxDocFrac such lines — dimension-scale whatever the corpus
   * size, which is why the probe side never shuffles and hot lines never
   * funnel. NULL-text rows are dropped ([[dedupLines]]'s contract).
   */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
      domainCol: String, maxDocFrac: Double = 0.3,
      minDocs: Int = 3): DataFrame = {
    val lines = df
      .select(col(idCol), col(domainCol).as("__dom"),
        posexplode(split(col(textCol), "\n")).as(Seq("__p", "__line")))
      .select(col(idCol), col("__dom"), (col("__p") + 1).as("__idx"),
        col("__line"))
    val domDocs = df.groupBy(col(domainCol).as("__dom"))
      .agg(count(lit(1)).as("__n_docs"))
    val lineDf = lines.select(col(idCol), col("__dom"), col("__line"))
      .distinct()
      .groupBy("__dom", "__line").agg(count(lit(1)).as("__df"))
    val boiler = lineDf.join(broadcast(domDocs), "__dom")
      .filter(col("__df") >= minDocs &&
        col("__df") > lit(maxDocFrac) * col("__n_docs"))
      .select(col("__dom"), col("__line"), lit(true).as("__b"))
    lines.join(broadcast(boiler), Seq("__dom", "__line"), "left")
      .withColumn("__keep", col("__b").isNull)
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_lines"),
        count(when(col("__keep"), 1)).cast("int").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__idx"), col("__line"))))),
          s => s.getField("__line")), "\n").as("text_clean"))
  }
}
