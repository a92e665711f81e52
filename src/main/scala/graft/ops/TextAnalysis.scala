package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines: token
 * counting, quality scoring, n-gram-heuristic language ID and document
 * fingerprinting. All are pure `Column` expressions — codegen'd, no UDFs,
 * no shuffle; they pipeline with the scan exactly like the validation pass.
 */
object TextAnalysis {

  /** THE shared lowercased whitespace tokenizer — every text operator
   * (dedup shingles, lang-ID, stopwords, curation n-grams) must split
   * identically, and the DuckDB oracles restate this exact expression as
   * `regexp_split_to_array(lower(trim(text)), '[\s\x0b]+')` (Java `\s`
   * includes \x0b, RE2's does not — the round-2 drift lesson). Change it
   * HERE or nowhere. Known cross-engine edge: DuckDB `trim()` strips
   * SPACES only while Java's strips all ASCII whitespace <= 0x20; the
   * synthetic corpora never carry boundary tabs/newlines (all 80 oracle
   * queries green at three SFs), but a corpus that does must restate
   * trim as a regexp_replace of boundary `[\s\x0b]+` in the oracle. */
  def tokensLower(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Whitespace token count (0 for empty/blank). */
  def tokenCount(text: Column): Column =
    when(text.isNull || trim(text) === "", lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword count: word characters split into runs of letters,
   * digits, or single punctuation marks — a cheap deterministic proxy for a
   * byte-pair tokenizer's token count. */
  def subwordCount(text: Column): Column =
    when(text.isNull, lit(0)).otherwise(
      size(filter(split(text, "(?=[^a-zA-Z0-9])|(?<=[^a-zA-Z0-9])"),
        t => t =!= "" && t =!= " ")))

  /** Distinct whitespace tokens. */
  def distinctTokenCount(text: Column): Column =
    when(text.isNull || trim(text) === "", lit(0))
      .otherwise(size(array_distinct(split(trim(text), "\\s+"))))

  /** Punctuation-character ratio over total length (0 when empty). */
  def punctRatio(text: Column): Column = {
    val len = length(text)
    val punct = len - length(regexp_replace(text, "[\\p{Punct}]", ""))
    when(text.isNull || len === 0, lit(0.0)).otherwise(punct.cast("double") / len)
  }

  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be")

  /** Fraction of whitespace tokens that are (lowercased) English stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokensLower(text)
    val hits = size(filter(toks, t => t.isin(Stopwords: _*)))
    when(text.isNull || trim(text) === "", lit(0.0))
      .otherwise(hits.cast("double") / size(toks))
  }

  /** Mean token length (0 when empty). */
  def meanTokenLen(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    when(text.isNull || trim(text) === "", lit(0.0))
      .otherwise(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
  }

  /**
   * Composite quality score in [0,1]: length in a sane band, some lexical
   * diversity, not punctuation-soup. Deterministic and cheap — the shape a
   * pretraining-corpus filter takes, not a learned model.
   */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text)
    val lenOk = when(n.between(10, 10000), lit(1.0))
      .otherwise(when(n > 0, lit(0.5)).otherwise(lit(0.0)))
    val diversity = when(n === 0, lit(0.0))
      .otherwise(distinctTokenCount(text).cast("double") / n)
    val punctOk = lit(1.0) - least(lit(1.0), punctRatio(text) * 5)
    round((lenOk * 0.4 + diversity * 0.4 + punctOk * 0.2), 6)
  }

  /** Per-language stopword marker sets for the n-gram/stopword language-ID
   * heuristic. Tiny, deterministic, broadcast-as-literal. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "für"),
    "fr" -> Seq("le", "la", "les", "et", "est", "avec", "pour"),
    "es" -> Seq("el", "los", "las", "y", "es", "con", "para"))

  /**
   * Heuristic language ID: count marker-token hits per language, pick the
   * argmax (ties and zero hits -> "und" for undetermined). One pass over
   * the token array per language — still a single projection.
   */
  def langId(text: Column): Column = {
    val toks = tokensLower(text)
    val scores: Seq[(String, Column)] = LangMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers: _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
    // foldRight means earlier languages win ties (deterministic order)
    when(text.isNull || trim(text) === "", lit("und")).otherwise(pick)
  }

  /** Normalized-content fingerprint: sha256 over lowercased,
   * whitespace-collapsed text — the exact-dup key for [[Dedup.exact]].
   * Uses the [[graft.functions.Sha256Hex]] kernel (thread-local digest),
   * value-identical to sha2(.., 256) / DuckDB sha256. */
  def fingerprint(text: Column): Column =
    graft.functions.Sha256Hex.column(
      regexp_replace(lower(trim(text)), "\\s+", " "))

  /**
   * Polynomial rolling hash over the normalized text: base 31 modulo the
   * Mersenne prime 2^31-1 (every intermediate stays < 2^36, so the
   * expression is ANSI-safe — no wrapping arithmetic, which Spark 4's
   * default ANSI mode rejects). An order-sensitive complement to the
   * order-insensitive sha fingerprint; `aggregate` over the character
   * array: codegen'd, no UDF.
   */
  def rollingHash(text: Column): Column = {
    val P = 2147483647L
    val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
    val chars = split(norm, "")
    when(text.isNull, lit(null).cast("long")).otherwise(
      aggregate(filter(chars, c => c =!= ""), lit(0L),
        (acc, ch) => pmod(acc * 31L + ascii(ch).cast("long"), lit(P))))
  }

  /**
   * Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
   * SIGMOD'03 — the MOSS local-fingerprinting scheme, built for source
   * code): hash every word k-gram with the engine's ANSI-safe polynomial
   * (base 31 mod 2^31-1, the [[rollingHash]] arithmetic — restatable in
   * the DuckDB oracle, unlike wrapping 64-bit hashes), slide a window of
   * `w` hashes and keep each window's minimum; the sorted distinct mins
   * are the document's fingerprint set. Winnowing guarantees any shared
   * substring of >= k+w-1 tokens yields at least one shared fingerprint,
   * while storing ~2/(w+1) of the hashes — the detector MOSS uses for
   * code plagiarism, here the scale path for code-clone candidate
   * generation (fingerprints join corpus-wide like [[Dedup]] shingle
   * buckets, but with winnowing's density guarantee).
   *
   * Contract edges (mirrored by the oracle): fewer than k tokens → empty
   * set; between 1 and w-1 k-grams → the single global min, so every
   * non-trivial doc keeps at least one fingerprint. One shuffle-free
   * projection; O(grams × w) per document with both arrays lambda-bound.
   */
  def winnowFingerprints(text: Column, k: Int = 3, w: Int = 4): Column = {
    require(k >= 1, "k-gram width must be >= 1")
    require(w >= 1, "winnow window must be >= 1")
    // NULL/blank docs have no grams (mirrors Curation.wordNgrams' guard);
    // everything else runs in the codegen'd kernel — the HOF formulation
    // (transform+aggregate+slice/array_min) it replaced survives in the
    // FunctionsSpec parity test and measured ~2x slower interpreted.
    when(text.isNull || trim(text) === "", array().cast("array<bigint>"))
      .otherwise(graft.functions.WinnowFingerprints.column(
        tokensLower(text), k, w))
  }

  /**
   * Corpus-level vocabulary with document frequencies — the token-stats
   * step of a tokenizer/training-mix build: one row per distinct
   * (lowercased whitespace) token with its total count `tf`, document
   * frequency `doc_freq` and `idf = round(ln(n_docs / doc_freq), 6)`.
   * Tokens below `minCount` total occurrences are dropped.
   *
   * Scale shape: the canonical word-count — explode + hash aggregate with
   * map-side partial aggregation on the token key; the distinct-doc count
   * rides the same shuffle (Spark plans count(distinct) as a two-level
   * aggregate on (token, doc)). `nDocs` defaults to a count of the
   * non-NULL-text rows (one extra metadata-cheap pass); at warehouse
   * scale pass it in from table stats so the corpus is scanned once.
   */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
      minCount: Long = 1L, nDocs: Option[Long] = None): DataFrame = {
    val base = df.filter(col(textCol).isNotNull)
    val n = nDocs.getOrElse(base.count())
    base.select(col(idCol), explode(tokensLower(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col(idCol)).as("doc_freq"))
      .filter(col("tf") >= minCount)
      .withColumn("idf", round(log(lit(n.toDouble) / col("doc_freq")), 6))
  }

  /**
   * Per-document TF-IDF keyword extraction: the top `k` tokens of each
   * document by `tf_in_doc × ln(n_docs / doc_freq)`, ties broken by token
   * order — the domain-tagging / topic-sketch step of a corpus pipeline.
   * Returns (idCol, rank 1..k, token, score).
   *
   * Scale shape: ONE explode feeds a (doc, token) count whose output then
   * feeds BOTH sides — the per-doc term frequencies and (re-aggregated by
   * token, one row per doc-token pair) the document frequencies — so the
   * corpus is tokenized once. The vocabulary side is dimension-scale for
   * natural-language token sets and broadcasts; the per-doc top-k is a
   * bounded sort of that document's distinct tokens (no Window exchange,
   * no corpus-wide rank shuffle).
   */
  /** Evaluate `c` once and hand it to `f` as a lambda-bound variable —
   * the array-of-one binding trick (see [[graft.ops.Dedup.shingles]]):
   * a non-trivial expression referenced inside HOF lambdas is otherwise
   * re-evaluated PER REFERENCE PER ELEMENT (the round-1 quadratic trap). */
  private def bind1(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), x => f(x)), 1)

  /** Per-document (token, tf) pairs as an array — run-length encoding of
   * the SORTED token array, all codegen'd HOFs, no shuffle: run-end
   * positions are the indices where the sorted array changes value, and
   * each run's length is the gap to the previous run end. Both the sorted
   * array and the run-end index array are lambda-bound (evaluated once).
   * The `i === size` guard short-circuits the out-of-bounds peek at i+1
   * (Catalyst `Or` evaluates its right side only when the left is not
   * true, in both codegen and interpreted modes). */
  def termFreqArray(toks: Column): Column = {
    val runs = bind1(array_sort(toks)) { srt =>
      bind1(filter(sequence(lit(1), size(srt)), i =>
        (i === size(srt)) || (element_at(srt, i) =!= element_at(srt, i + 1)))) { ends =>
        transform(sequence(lit(1), size(ends)), j =>
          struct(
            element_at(srt, element_at(ends, j)).as("token"),
            when(j === 1, element_at(ends, j))
              .otherwise(element_at(ends, j) - element_at(ends, j - 1))
              .cast("long").as("tf")))
      }
    }
    // empty/NULL arrays short-circuit BEFORE the run-end machinery:
    // sequence(1, 0) is the DESCENDING [1, 0], whose 0 would survive the
    // run-end filter and feed element_at(srt, 0) — an unconditional error
    when(toks.isNull || size(toks) === 0,
      array().cast("array<struct<token:string,tf:bigint>>"))
      .otherwise(runs)
  }

  /**
   * The token→idf map of a corpus — ONE aggregation (each doc's DISTINCT
   * tokens exploded, so count(*) == document frequency) collected to the
   * driver. NOTE this runs a Spark job NOW and holds the vocabulary in
   * driver memory — the same bound a broadcast join has, made explicit.
   * Build once, reuse across [[tfidfKeywords]] calls/batches. For OPEN
   * token spaces beyond driver memory (identifiers, URLs) use an
   * explode + shuffle-join formulation instead of this map path.
   */
  /** Default ceiling for the driver-map vocabulary builders. Natural-
   * language vocabularies sit well under it; an identifier-shaped code
   * vocabulary blows past it — which is exactly when the join-path
   * formulations ([[tfidfKeywordsJoin]], [[lmScoreJoin]]) must take over
   * instead of OOMing the driver mid-collect. */
  val DefaultMaxVocab: Int = 4000000

  def idfMap(df: DataFrame, idCol: String, textCol: String,
      nDocs: Option[Long] = None,
      maxVocab: Int = DefaultMaxVocab): Map[String, Double] = {
    val base = df.filter(col(textCol).isNotNull)
    val n = nDocs.getOrElse(base.count())
    // limit(maxVocab+1) bounds DRIVER memory even on the failure path —
    // the guard trips after maxVocab+1 rows stream back, not after the
    // full billion-token vocabulary has been materialized driver-side
    val rows = base
      .select(explode(array_distinct(tokensLower(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("doc_freq"))
      .limit(maxVocab + 1)
      .collect()
    require(rows.length <= maxVocab,
      s"idfMap: vocabulary exceeds maxVocab=$maxVocab distinct tokens — " +
        "an open token space (identifiers, URLs) does not fit a driver " +
        "map; use tfidfKeywordsJoin, the explode+join formulation")
    rows.map(r => r.getString(0) ->
      math.log(n.toDouble / r.getLong(1))).toMap
  }

  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, nDocs: Option[Long] = None,
      idf: Option[Map[String, Double]] = None): DataFrame = {
    require(k >= 1, "keyword count must be >= 1")
    val spark = df.sparkSession
    val base = df.filter(col(textCol).isNotNull)
    // Default builds the vocabulary HERE — an eager corpus aggregation at
    // call time (see [[idfMap]] for the contract and the open-vocabulary
    // caveat); pass a precomputed `idf` to keep construction job-free and
    // reuse one vocabulary across calls.
    val vocab = idf.getOrElse(idfMap(df, idCol, textCol, nDocs))
    val idfBcast = graft.functions.BroadcastMapLookup.broadcastMap(spark, vocab)
    // Everything else is doc-local in one shuffle-free projection:
    // run-length tf, idf lookup per distinct token, score, sort, top-k.
    // (The old formulation shuffled (doc, token) pairs twice — tf groupBy
    // + final per-doc collect — and joined; this shuffles nothing.)
    val scored = transform(termFreqArray(tokensLower(col(textCol))), s =>
      struct(
        (-(s.getField("tf") *
          coalesce(graft.functions.BroadcastMapLookup.lookup(
            s.getField("token"), idfBcast), lit(0.0)))).as("n"),
        s.getField("token").as("token")))
    // posexplode takes the top-k expression itself, not an attribute
    // holding it: for an attribute input InferFiltersFromGenerate adds a
    // size(__top) > 0 filter, and pushdown copies the whole array
    // expression into it, so the array would be built twice per row
    base
      .select(col(idCol),
        posexplode(slice(array_sort(scored), 1, k)).as(Seq("__r", "__kw")))
      .select(col(idCol), (col("__r") + 1).cast("int").as("rank"),
        col("__kw.token").as("token"),
        round(-col("__kw.n"), 6).as("score"))
  }

  /**
   * OPEN-VOCABULARY per-document TF-IDF keywords — the distributed twin of
   * [[tfidfKeywords]] for token spaces beyond driver memory (a 100 TB code
   * corpus's identifier vocabulary is effectively unbounded; the map path's
   * collect is a driver OOM there). Same output contract:
   * (idCol, rank 1..k, token, score round-6), ties score-DESC token-ASC.
   *
   * Scale shape: ONE explode feeds a (doc, token) tf aggregate that is
   * materialized once (localCheckpoint) and consumed twice — re-aggregated
   * by token into the document-frequency table, then equi-joined back on
   * the token key (both sides shuffle-partitioned by token; no driver map,
   * no broadcast of the vocabulary). The per-doc top-k is the bounded
   * [[graft.functions.TopKTokens]] aggregate: map-side k-heaps, shuffle
   * <= #docs x #partitions x k entries — NOT a row_number window, which
   * would funnel every scored token of a document through one reducer.
   * Every stage is vocabulary-size independent on the driver.
   */
  def tfidfKeywordsJoin(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, nDocs: Option[Long] = None): DataFrame = {
    require(k >= 1, "keyword count must be >= 1")
    val base = df.filter(col(textCol).isNotNull)
    val n = nDocs.getOrElse(base.count())
    val pairs = base
      .select(col(idCol), explode(tokensLower(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint() // two consumers below — tokenize the corpus ONCE
    // pairs is already distinct per (doc, token), so doc_freq = row count
    val dfTable = pairs.groupBy("token").agg(count(lit(1)).as("doc_freq"))
    // idf as a COLUMN over the same double ln the map path computes
    // driver-side (java.lang.Math.log either way — identical IEEE result)
    val scored = pairs.join(dfTable, "token")
      .select(col(idCol),
        (col("tf").cast("double") *
          log(lit(n.toDouble) / col("doc_freq"))).as("score"),
        col("token"))
    scored.groupBy(col(idCol))
      .agg(graft.functions.TopKTokens.topK(col("score"), col("token"), k).as("tk"))
      .select(col(idCol), posexplode(col("tk")).as(Seq("__r", "__kw")))
      .select(col(idCol), (col("__r") + 1).cast("int").as("rank"),
        col("__kw.token").as("token"),
        round(col("__kw.score"), 6).as("score"))
  }

  /** All text features in one projection over (idCol, textCol). */
  def features(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      tokenCount(t).as("n_tokens"),
      distinctTokenCount(t).as("n_distinct_tokens"),
      subwordCount(t).as("n_subwords"),
      length(t).as("n_chars_actual"),
      round(punctRatio(t), 6).as("punct_ratio"),
      round(stopwordRatio(t), 6).as("stopword_ratio"),
      round(meanTokenLen(t), 6).as("mean_token_len"),
      qualityScore(t).as("quality_score"),
      langId(t).as("lang_pred"),
      fingerprint(t).as("fingerprint"))
  }

  /**
   * Okapi BM25 top-k relevance search against a literal query — the
   * "find me documents about X" capability over the corpus, and the
   * relevance-weighted variant of [[tfidfKeywords]]'s scoring.
   *
   * Shape: ONE stats aggregation (corpus size, average doc length, and
   * per-query-term document frequency — a query-sized row collected to
   * the driver), then ONE shuffle-free scoring projection over the
   * corpus feeding the bounded [[graft.functions.TopKByScore]] reduction
   * (map-side k-heaps; shuffle = #partitions x k entries, corpus-size
   * independent, no Window, no global sort). Per-term `tf` uses an
   * interpreted array filter — fine for interactive query lengths (each
   * term costs one pass over the token array per row); batch scoring of
   * thousands of queries belongs on [[vocabulary]] + a join, not here.
   *
   * Formula (restated verbatim by the `q_bm25` oracle, ties broken by
   * ascending id): per term t,
   * `idf_t = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)` (Robertson+1,
   * always positive), and
   * `score = Σ idf_t * (tf_t * (k1+1)) / (tf_t + k1 * (1 - b + b * dl/avgdl))`.
   */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      query: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "BM25 needs at least one query term")
    require(k > 0, "k must be positive")
    // projection boundary: the token array materializes ONCE per row —
    // without it every per-term filter below re-runs the regex split
    // (the CollapseProject pathology, same as minhashCandidates)
    val toks = df.select(col(idCol).as("__id"),
      tokensLower(col(textCol)).as("__toks"))
    val statAggs = count(lit(1)).as("n") +:
      avg(size(col("__toks"))).as("avgdl") +:
      query.zipWithIndex.map { case (t, i) =>
        count(when(array_contains(col("__toks"), t), 1)).as(s"df$i")
      }
    val st = toks.agg(statAggs.head, statAggs.tail: _*).collect().head
    val n = st.getLong(0)
    require(n > 0, "cannot score an empty corpus")
    val avgdl = st.getDouble(1)
    val idfs = query.indices.map { i =>
      val dfT = st.getLong(2 + i)
      math.log((n - dfT + 0.5) / (dfT + 0.5) + 1.0)
    }
    val dl = size(col("__toks")).cast("double")
    val score = query.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("__toks"), x => x === t)).cast("double")
      lit(idfs(i)) * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / lit(avgdl)))
    }.reduce(_ + _)
    toks.agg(graft.functions.TopKByScore.topK(score, col("__id"), k).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("e.id").as(idCol), round(col("e.score"), 6).as("score"))
  }

  /**
   * BATCH BM25 search — thousands of queries against the corpus in ONE
   * distributed job, the inverted-index formulation [[bm25TopK]]'s doc
   * points at ("batch scoring of thousands of queries belongs on
   * [[vocabulary]] + a join"). `queries` is a (queryIdCol, termCol) frame,
   * one row per query term (terms repeated across queries are fine).
   *
   * Scale shape: ONE corpus tokenize+explode feeds a (doc, token, tf, dl)
   * aggregate RESTRICTED to the distinct query-term set (semi-join before
   * the groupBy, so the posting table is query-vocabulary-sized, not
   * corpus-vocabulary-sized); per-term document frequencies re-aggregate
   * the same postings; corpus size and average doc length are two driver
   * scalars off one agg. Scoring joins postings × queries on the term key,
   * sums per (query, doc), and takes each query's top-k through the
   * bounded [[graft.functions.TopKByScore]] aggregate — no Window, no
   * global sort, nothing driver-resident but the two scalars.
   *
   * Contract differences vs [[bm25TopK]] (documented, oracle-restated):
   * NULL-text rows are excluded from the corpus statistics, and only
   * documents sharing >= 1 term with a query are ranked for it (a zero
   * score carries no information; the single-query form pads with zero
   * scores when k exceeds the match count). Same formula, same
   * (score DESC, id ASC) tie order, round-6 emitted scores.
   */
  def bm25SearchJoin(df: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, termCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), tokensLower(col(textCol)).as("__toks"))
    val st = toks.agg(count(lit(1)).as("n"),
      avg(size(col("__toks"))).as("avgdl")).head()
    val n = st.getLong(0)
    require(n > 0, "cannot score an empty corpus")
    val avgdl = st.getDouble(1)
    val qTerms = queries.select(col(termCol).as("__tok")).distinct()
    // postings restricted to query terms BEFORE the tf aggregate: the
    // explode stream drops every non-query token at the join, so the
    // shuffled volume is (docs x query-vocabulary hits), not the corpus
    // token stream
    val postings = toks
      .select(col("__id"), size(col("__toks")).cast("double").as("__dl"),
        explode(col("__toks")).as("__tok"))
      .join(qTerms, Seq("__tok"))
      .groupBy(col("__id"), col("__tok"))
      .agg(count(lit(1)).cast("double").as("__tf"), first(col("__dl")).as("__dl"))
      .localCheckpoint() // consumed twice: df aggregate + the scoring join
    val dfTable = postings.groupBy(col("__tok"))
      .agg(count(lit(1)).as("__df")) // postings are distinct per (doc, token)
    val idf = log((lit(n.toDouble) - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0)
    val contrib = idf * (col("__tf") * lit(k1 + 1.0)) /
      (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / lit(avgdl)))
    postings
      .join(dfTable, Seq("__tok"))
      .join(queries.select(col(queryIdCol).as("__qid"), col(termCol).as("__tok")),
        Seq("__tok"))
      .groupBy(col("__qid"), col("__id"))
      .agg(sum(contrib).as("__score"))
      .groupBy(col("__qid"))
      .agg(graft.functions.TopKByScore.topK(col("__score"), col("__id"), k).as("tk"))
      .select(col("__qid").as(queryIdCol), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col(queryIdCol), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as(idCol), round(col("e.score"), 6).as("score"))
  }

  /**
   * Bigram PMI collocations — the classic corpus-statistics pass (Church &
   * Hanks, ACL 1989) behind phrase mining and tokenizer-vocabulary merges:
   * adjacent token pairs scored by pointwise mutual information
   * `ln( P(w1,w2) / (P(w1)·P(w2)) )` with the joint estimated from bigram
   * counts and the marginals from unigram counts. High PMI = the pair
   * co-occurs far above chance (a collocation); `minCount` floors the
   * long tail of one-off pairs whose PMI is spuriously high.
   *
   * Scale shape: two map-side-combined aggregations (bigram counts via an
   * explode of adjacent-pair structs, unigram counts), two totals reduced
   * from the ALREADY-AGGREGATED tables (driver scalars, dimension-cost),
   * two vocab-keyed equi-joins to attach marginals, and a
   * TakeOrderedAndProject top-k — no global sort, no window. The double
   * association `((c12·T1)·T1) / ((T2·c1)·c2)` is fixed so the oracle
   * reproduces it bit-for-bit; ln's final-ulp engine skew is absorbed by
   * the round-6 house contract (the [[bm25TopK]] precedent).
   */
  def collocations(df: DataFrame, textCol: String, minCount: Int = 5,
      k: Int = 20): DataFrame = {
    val base = df.filter(col(textCol).isNotNull)
      .select(tokensLower(col(textCol)).as("t"))
    // both aggregates are vocab-scale and each feeds TWO consumers (its
    // total below + the final join) — localCheckpoint materializes each
    // once so the corpus is tokenized exactly twice, not per consumer
    val big = base.filter(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("t")) - 2),
        i => struct(element_at(col("t"), i + 1).as("w1"),
          element_at(col("t"), i + 2).as("w2")))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .localCheckpoint()
    val uni = base.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
      .localCheckpoint()
    val t1 = uni.agg(sum("n_w")).head().getLong(0)
    val t2 = big.agg(sum("n_pair")).head().getLong(0)
    big.filter(col("n_pair") >= minCount)
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), "w2")
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log(col("n_pair").cast("double") * t1 * t1 /
          (lit(t2.toDouble) * col("n_w1") * col("n_w2"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /**
   * CCNet's head/middle/tail split (Wenzek et al., LREC 2020): bucket every
   * document by which third of the corpus's LM-score distribution its
   * `avg_nll` falls into — head = most fluent/typical, tail = most
   * gibberish/out-of-domain; CCNet trains on head+middle and drops tail.
   * Takes [[lmScore]]'s output (or any (id, score) frame).
   *
   * Scale shape: ONE exact-percentile aggregation produces the two
   * thresholds (driver scalars, rounded to the house round-6 so the
   * oracle's `quantile_cont` reproduces them), then bucketing is a
   * shuffle-free projection — no global sort, no ntile window (an
   * `ntile(3)` would funnel the corpus through a single-partition Window;
   * thresholds-then-filter is the distributed form of the same cut). At
   * the 10^10-row regime swap the exact percentile for Spark's
   * `percentile_approx`; the cut stays a projection.
   */
  def lmBuckets(scored: DataFrame, idCol: String,
      nllCol: String = "avg_nll"): DataFrame = {
    val t = graft.quality.ColumnStats
      .percentiles(scored, nllCol, Seq.empty, Seq(1.0 / 3, 2.0 / 3))
      .head()
    val (t1, t2) = (t.getDouble(0), t.getDouble(1))
    scored.select(col(idCol), col(nllCol),
      when(col(nllCol) <= t1, "head")
        .when(col(nllCol) <= t2, "middle")
        .otherwise("tail").as("bucket"))
  }

  /** Add-one-smoothed unigram token counts of a corpus, as the broadcast
   * payload [[lmScore]] consumes: token → ln((c+1)/(T+V)), plus the OOV
   * log-prob ln(1/(T+V)). Driver-memory-bounded like [[idfMap]] (one map
   * entry per distinct token); build once, score any number of batches. */
  def lmModel(train: DataFrame, textCol: String,
      maxVocab: Int = DefaultMaxVocab): (Map[String, Double], Double) = {
    // limit-bounded collect: the guard fails fast after maxVocab+1 rows,
    // never materializing an open vocabulary driver-side (see [[idfMap]])
    val rows = train.filter(col(textCol).isNotNull)
      .select(explode(tokensLower(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .limit(maxVocab + 1)
      .collect()
    require(rows.length <= maxVocab,
      s"lmModel: vocabulary exceeds maxVocab=$maxVocab distinct tokens — " +
        "use lmModelDf + lmScoreJoin, the explode+join open-vocabulary path")
    val counts = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val denom = (counts.values.sum + counts.size).toDouble
    (counts.map { case (t, c) => t -> math.log((c + 1).toDouble / denom) },
      math.log(1.0 / denom))
  }

  /**
   * OPEN-VOCABULARY unigram LM — the distributed twin of [[lmModel]]:
   * the model stays a DataFrame (token, logp) partitioned across the
   * cluster; only the smoothing denominator T+V (two scalars off the
   * ALREADY-AGGREGATED counts table) ever reaches the driver. Returns the
   * model frame plus the OOV log-prob ln(1/(T+V)). The counts table is
   * localCheckpoint-materialized so the training corpus is tokenized once
   * (the totals pass reads the checkpoint, not the lineage).
   */
  def lmModelDf(train: DataFrame, textCol: String): (DataFrame, Double) = {
    val counts = train.filter(col(textCol).isNotNull)
      .select(explode(tokensLower(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = counts.agg(sum("c").as("t"), count(lit(1)).as("v")).head()
    val denom = (tot.getLong(0) + tot.getLong(1)).toDouble
    // (c+1) in LONG then one cast — the identical double the map path's
    // (c + 1).toDouble / denom produces, so both paths emit equal scores
    (counts.select(col("token"),
      log((col("c") + 1L).cast("double") / lit(denom)).as("logp")),
      math.log(1.0 / denom))
  }

  /**
   * Score documents against a DataFrame-resident LM ([[lmModelDf]]) —
   * same output contract as [[lmScore]]: (idCol, n_tokens, avg_nll
   * round-6). Shape: explode -> LEFT equi-join on the token key (misses
   * take the OOV log-prob) -> per-doc sum/count aggregate. Two shuffles
   * (join + doc agg), zero driver state — the path that survives an
   * unbounded vocabulary; summation order differs from the map path's
   * in-document fold only below the round-6 contract.
   */
  def lmScoreJoin(score: DataFrame, idCol: String, textCol: String,
      model: (DataFrame, Double)): DataFrame = {
    val (modelDf, oov) = model
    score.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokensLower(col(textCol))).as("token"))
      .join(modelDf, Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        round(-sum(coalesce(col("logp"), lit(oov))) / count(lit(1)), 6)
          .as("avg_nll"))
  }

  /**
   * Unigram language-model quality score — the CCNet-style "perplexity
   * filter": score every document by its mean per-token negative
   * log-probability under an add-one-smoothed unigram model of `train`
   * (low = fluent/typical, high = gibberish or out-of-domain; CCNet
   * buckets a corpus into head/middle/tail on exactly this statistic).
   *
   * Scale shape: ONE aggregation over the training corpus builds the
   * count map (a vocabulary-sized driver value, the [[idfMap]] bound),
   * which ships as a broadcast; scoring is then ONE shuffle-free
   * projection — the [[graft.functions.BroadcastMapLookup]] kernel
   * resolves each token's log-prob INSIDE the array fold, so no explode,
   * no join, no per-doc re-aggregation, and new batches score at scan
   * speed against a frozen model. Tokens absent from the model take the
   * OOV log-prob ln(1/(T+V)).
   */
  def lmScore(score: DataFrame, idCol: String, textCol: String,
      model: (Map[String, Double], Double)): DataFrame = {
    val (logp, oov) = model
    val bc = graft.functions.BroadcastMapLookup.broadcastMap(
      score.sparkSession, logp)
    val toks = tokensLower(col(textCol))
    val nll = -aggregate(toks, lit(0.0), (acc, t) =>
      acc + coalesce(graft.functions.BroadcastMapLookup.lookup(t, bc),
        lit(oov))) / size(toks).cast("double")
    score.filter(col(textCol).isNotNull)
      .select(col(idCol), size(toks).as("n_tokens"),
        round(nll, 6).as("avg_nll"))
  }

  /**
   * Distributed BPE-merge training (Sennrich, Haddow & Birch, ACL 2016 —
   * the byte-pair-encoding tokenizer learner every LLM pipeline runs over
   * its corpus). Returns the learned merge table
   * `(merge_rank, lhs, rhs, n)`: at each round the most frequent adjacent
   * symbol pair (count desc, then lhs/rhs asc — fully deterministic)
   * becomes one symbol everywhere, `numMerges` rounds.
   *
   * Scale shape — the whole point of training BPE ON Spark:
   *  - the corpus collapses ONCE into a `(word, freq)` table via a
   *    map-side-combined count; every later round works on this
   *    VOCAB-scale state (distinct words), never the corpus again;
   *  - per round: the winning pair comes from ONE shuffle-free job — each
   *    partition folds its words into a bounded (s1,s2)→count map and the
   *    maps tree-merge to the driver. The pair table is capped by
   *    (#distinct symbols)^2, and symbols here are printable-ASCII chars
   *    plus `</w>` plus at most `numMerges` merged tokens, so the map is
   *    a few thousand entries at ANY corpus scale — the same bounded-
   *    driver-state contract as [[idfMap]], without idfMap's vocab-size
   *    risk. (The earlier groupBy + TakeOrderedAndProject formulation
   *    paid a pair-table shuffle plus an extra AQE stage job per round —
   *    measurable pure overhead at 12 rounds, see OPTIMIZATION_r06.md.)
   *    The merge itself is a SHUFFLE-FREE `aggregate` fold over each
   *    word's symbol array (leftmost-first non-overlapping, the
   *    reference semantics);
   *  - `localCheckpoint` per round cuts the otherwise numMerges-deep
   *    nested-HOF lineage (the [[collocations]] / Clustering precedent);
   *  - rounds are BOUNDED by `numMerges` and stop early when no pair
   *    reaches `minPairCount` — at which point the oracle's per-round
   *    CTEs go empty in exactly the same way.
   *
   * Words are restricted to printable ASCII (`^[!-~]+$` in both engines)
   * so character splitting is code-unit-agnostic, and carry the standard
   * `</w>` end-of-word marker so merges never cross word boundaries.
   */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 1L): DataFrame = {
    require(numMerges >= 1, "numMerges must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.filter(col(textCol).isNotNull)
      .select(explode(tokensLower(col(textCol))).as("word"))
      .filter(col("word").rlike("^[!-~]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    var state = words.select(col("word"), col("freq"),
      concat(split(col("word"), ""), array(lit("</w>"))).as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    var r = 1
    while (r <= numMerges && !done) {
      // Adjacent-pair counts, summed exactly: per-partition HashMap fold
      // (the map-side combine), then an executor-side tree merge — one
      // job, no exchange. Integer sums are order-independent, and every
      // symbol is printable ASCII (+ concatenations), where Java's UTF-16
      // compareTo == Spark's UTF-8 binary string order — so the driver
      // winner (count desc, s1 asc, s2 asc) is bit-identical to the
      // TakeOrderedAndProject this replaces.
      val pairCounts = state.select(col("freq"), col("syms"))
        .rdd.mapPartitions { it =>
          val m = new java.util.HashMap[(String, String), Long]()
          it.foreach { row =>
            val f = row.getLong(0)
            val syms = row.getSeq[String](1)
            var i = 0
            while (i < syms.length - 1) {
              val k = (syms(i), syms(i + 1))
              m.put(k, m.getOrDefault(k, 0L) + f)
              i += 1
            }
          }
          Iterator.single(m)
        }
        .treeReduce { (a, b) =>
          val (big, small) = if (a.size >= b.size) (a, b) else (b, a)
          small.forEach((k, v) => big.put(k, big.getOrDefault(k, 0L) + v))
          big
        }
      val top = {
        import scala.jdk.CollectionConverters._
        pairCounts.entrySet().asScala.reduceOption { (x, y) =>
          val c = java.lang.Long.compare(y.getValue, x.getValue) // desc
          val o =
            if (c != 0) c
            else {
              val c1 = x.getKey._1.compareTo(y.getKey._1) // asc
              if (c1 != 0) c1 else x.getKey._2.compareTo(y.getKey._2) // asc
            }
          if (o <= 0) x else y
        }
      }
      if (top.isEmpty || top.get.getValue < minPairCount) done = true
      else {
        val (a, b, n) =
          (top.get.getKey._1, top.get.getKey._2, top.get.getValue)
        merges += ((r, a, b, n))
        val prev = state
        state = state.withColumn("syms",
          aggregate(slice(col("syms"), lit(2), size(col("syms")) - 1),
            array(element_at(col("syms"), 1)),
            (acc, s) => when(
              element_at(acc, -1) === lit(a) && s === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
              .otherwise(concat(acc, array(s)))))
          .localCheckpoint()
        prev.unpersist()
        r += 1
      }
    }
    state.unpersist()
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "n")
      .orderBy("merge_rank")
  }
}
