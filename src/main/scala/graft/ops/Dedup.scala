package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines, from exact to
 * near-duplicate. All candidate generation is bucket-local (hash groupBy or
 * LSH band join) — never an all-pairs cross join — so the shapes survive a
 * 100x scale-up: the only shuffles are on the bucket keys, and pair
 * verification happens inside buckets whose size is controlled by the
 * banding parameters.
 */
object Dedup {

  // --- exact ---------------------------------------------------------------

  /** Exact duplicate groups by normalized-content fingerprint: one row per
   * group with the kept (minimal) id, the group size and member ids.
   * Single hash-shuffle on the 32-byte fingerprint — the cheapest possible
   * key at 100 TB (shuffles hashes, not content). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("group_size"),
        sort_array(collect_list(idCol)).as("member_ids"))
      .filter(col("group_size") > 1)

  // --- shingling + MinHash + LSH ------------------------------------------

  /** Word k-shingles of the lowercased text as distinct strings (the
   * oracle-friendly form; [[shingleHashes]] is the fixed-width scale form).
   * NB the outer single-element transform exists to BIND the token array to
   * a lambda variable: referencing the split expression directly inside the
   * shingle lambda would re-run the regex split once per shingle (non-lambda
   * subexpressions inside HOF lambda bodies are re-evaluated per element). */
  def shingles(text: Column, k: Int): Column = {
    val toks = TextAnalysis.tokensLower(text)
    when(text.isNull || trim(text) === "", array().cast("array<string>"))
      .otherwise(flatten(transform(array(toks), ts =>
        array_distinct(transform(sequence(lit(0), greatest(size(ts) - k, lit(0))),
          i => concat_ws(" ", slice(ts, i + lit(1), lit(k))))))))
  }

  /** Word k-shingles of the lowercased text as distinct int64 hashes via the
   * codegen'd [[graft.functions.ShingleHash64]] kernel (one pass; hash
   * values bit-identical to xxhash64 over concat_ws shingles). Hashing
   * shingles to 64-bit ints immediately keeps the rest of the pipeline
   * fixed-width — no string arrays shuffling around. */
  def shingleHashes(text: Column, k: Int): Column = {
    val toks = TextAnalysis.tokensLower(text)
    when(text.isNull || trim(text) === "", array().cast("array<bigint>"))
      .otherwise(graft.functions.VectorKernels.shingleHash64(toks, k))
  }

  /** Mersenne prime 2^31-1: the affine-permutation modulus. Keeping every
   * product under 2^62 makes the arithmetic exact in plain long math. */
  val MinhashPrime = graft.functions.MinHashSig.Prime

  /** MinHash signature (array of numHashes minima of (a*x+b) mod P) over a
   * column of shingle-hash arrays — the codegen'd [[graft.functions.MinHashSig]]
   * kernel: one primitive loop keeping all minima, instead of numHashes
   * interpreted higher-order `transform`s (measured ~50x on the bench). */
  def minhashSignature(shingles: Column, numHashes: Int, seed: Long = 42L): Column =
    graft.functions.VectorKernels.minhashSig(shingles, numHashes, seed)

  /** LSH band keys: signature split into `bands` rows of `rowsPerBand`,
   * each band hashed to one int64 bucket key. Documents sharing ANY band
   * bucket become candidate pairs. */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws(",",
        slice(signature, b * rowsPerBand + lit(1), lit(rowsPerBand))), b))

  /**
   * MinHash-LSH candidate pairs: explode band keys, self-join within
   * buckets (id ordering avoids dup/self pairs), dedup pairs found in
   * multiple bands. The join key is (band bucket), so the shuffle volume is
   * rows x bands fixed-width keys; bucket sizes are tunable via
   * bands/rowsPerBand. Returns (id_a, id_b, est_jaccard) with the
   * signature-agreement estimate.
   */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 8,
      maxBucketSize: Int = 200): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    // Projection boundary: the shingle-hash array materializes ONCE per row.
    // Without it, the full tokenize+hash+distinct subtree would be inlined
    // into every one of the 32 permutation minima below (CollapseProject
    // keeps a multiply-referenced non-cheap alias as its own projection),
    // which measured ~50x slower end-to-end.
    val sh = df.select(col(idCol).as("id"), shingleHashes(col(textCol), k).as("sh"))
    val sigs = sh
      .select(col("id"), minhashSignature(col("sh"), numHashes).as("sig"))
      .filter(col("sig").isNotNull)
    val banded0 = sigs.select(col("id"), col("sig"),
      explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bucket"))
    // ONE scan, ONE shuffle: the oversized-bucket guard is FUSED into the
    // collect via [[graft.functions.CollectSigsCapped]] — a bucket shared
    // by >maxBucketSize docs is non-discriminative (degenerate band) and
    // would go quadratic in pair expansion, so it aggregates to NULL and is
    // filtered. The previous two-pass shape (count + broadcast anti-join,
    // then collect_list) scanned the corpus — and recomputed the signature
    // pipeline, the dominant per-row cost — twice. The capped aggregate
    // partial-aggregates map-side, so a degenerate bucket ships at most
    // (#partitions x maxBucketSize) entries, and merges short-circuit to a
    // bare count once the exact total crosses the cap. Pairs then expand
    // INSIDE the bucket row via nested array transforms (bounded <=
    // maxBucketSize members); this shape is PlanSpec-pinned join-free.
    banded0.groupBy("bucket")
      .agg(graft.functions.CollectSigsCapped.collect(
        col("id"), col("sig"), maxBucketSize).as("members"))
      .filter(col("members").isNotNull && size(col("members")) >= 2)
      .select(explode(bucketPairs(col("members"), (a, b) =>
        (graft.functions.VectorKernels.sigAgreement(a("sig"), b("sig"))
          .cast("double") / lit(numHashes)).as("est_jaccard"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.est_jaccard"))
      .dropDuplicates("id_a", "id_b")
  }

  /** All unordered member pairs of a collected bucket as an array of
   * (id_a, id_b, <score>) structs: for each member index i, pair with
   * every later member. `score` builds the third struct field from the
   * two member structs (symmetric, so least/greatest id ordering is
   * safe). Callers guarantee bucket size is capped. */
  private def bucketPairs(members: Column,
      score: (Column, Column) => Column): Column =
    flatten(transform(members, (a, i) =>
      transform(slice(members, i + lit(2), size(members)), b =>
        struct(
          least(a("id"), b("id")).as("id_a"),
          greatest(a("id"), b("id")).as("id_b"),
          score(a, b)))))

  /**
   * Exact n-gram Jaccard for all pairs within blocks — the oracle-checkable
   * twin of [[minhashCandidates]] for data with a natural coarse blocking
   * key. Pairing within a block is inherently quadratic, so blocks larger
   * than `maxBlockSize` are dropped entirely (broadcast anti-join on the
   * tiny oversized-block list — the same degenerate-bucket guard as LSH):
   * a hot block (one (lang, length) bucket holding 10k+ rows) would
   * otherwise generate 10^8 in-block pairs and go quadratic at scale. Use
   * [[minhashCandidates]] when no bounded blocking key exists.
   *
   * `minJaccard = Some(t)` switches candidate generation to PREFIX
   * FILTERING (Chaudhuri/Ganti/Kaushik SSJoin 2006, Bayardo et al.
   * AllPairs WWW'07): only pairs with `jaccard >= t` are returned, and the
   * all-pairs block self-join is replaced by an equi-join on the docs'
   * PREFIX shingles — each doc exposes the first `|S| - ceil(t'*|S|) + 1`
   * of its sorted distinct shingles, and any two sets with true Jaccard
   * >= t' provably share a prefix element, so the filter has ZERO false
   * negatives (t' backs t off by the round-half-up granularity of the
   * emitted 6-dp jaccard, covering pairs that only reach t after
   * rounding). Exact scoring then runs on the surviving candidates alone.
   * At a fixed blocking-key space, block occupancy grows linearly with the
   * corpus and all-pairs scoring grows QUADRATICALLY; prefix candidates
   * grow with the number of pairs actually sharing rare shingles — the
   * round-6 10x/30x replica runs measured dd_clusters at scaling exponent
   * 1.50 on all-pairs vs sub-linear with the prefix join, identical
   * output. Because the prefix machinery (explode + dedupe + two joins)
   * costs more than brute force on SMALL blocks, the mode picks its
   * strategy from the data (guide §3.1, the AQE pattern): one tiny
   * aggregate over the per-block counts, brute-force when the largest
   * kept block is <= 32 rows (<= 496 pairs), prefix join beyond.
   * Below-threshold pairs are not returned in this mode (callers that
   * need the full similarity histogram use the default mode).
   *
   * EAGER ACTION: that occupancy aggregate runs when the frame is BUILT,
   * not when it is executed, so the strategy reflects the data as of the
   * call. A streaming `df` cannot run it and is rejected with an
   * IllegalArgumentException in this mode; the default mode is lazy.
   */
  def blockedNgramPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], k: Int = 3, maxBlockSize: Int = 1000,
      minJaccard: Option[Double] = None): DataFrame = {
    val bc = blockCols.map(col)
    val d = df.select(bc :+ col(idCol).as("id") :+ shingles(col(textCol), k).as("sh"): _*)
    val oversized = d.groupBy(bc: _*).agg(count(lit(1)).as("__block_n"))
      .filter(col("__block_n") > maxBlockSize).select(bc: _*)
    val kept = d.join(broadcast(oversized), blockCols, "left_anti")
    def jac(a: Column, b: Column): Column =
      round(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)), 6)
    minJaccard match {
      case None =>
        // Shuffle-merge pinned like [[simhashPairs]]: identical exchanges on
        // the block key let the b-side reuse the a-side's shuffle — one scan
        // and one shingle computation feed both sides (AQE's broadcast pick
        // re-scans).
        val a = kept.select(bc :+ col("id").as("id_a") :+ col("sh").as("sh_a"): _*)
        val b = kept.select(bc :+ col("id").as("id_b") :+ col("sh").as("sh_b"): _*)
        a.hint("shuffle_merge").join(b.hint("shuffle_merge"), blockCols)
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            jac(col("sh_a"), col("sh_b")).as("jaccard"))
      case Some(t) =>
        require(t > 0.0 && t <= 1.0, s"minJaccard must be in (0,1], got $t")
        require(!df.isStreaming, "blockedNgramPairs(minJaccard = Some(_)) " +
          "runs an eager aggregate to pick its join strategy and does not " +
          "support a streaming input")
        // Strategy dispatch by MEASURED block occupancy (one tiny
        // aggregate over the per-block counts, the same frame the
        // oversized guard derives from): all-pairs scoring costs
        // sum(b_i^2) pairs and the prefix join costs an explode + dedupe
        // + two joins per candidate, so for small blocks all-pairs wins
        // (<= 32 rows = <= 496 pairs per block — cheaper than the prefix
        // machinery) and for growing occupancy all-pairs goes quadratic
        // while prefix candidates track the pairs that actually share
        // rare shingles. The max (not mean) kept-block size decides:
        // one hot block is exactly where all-pairs blows up.
        val maxKept = d.groupBy(bc: _*).agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= maxBlockSize)
          .agg(max(col("__n"))).head().get(0)
        val smallBlocks =
          maxKept == null || maxKept.asInstanceOf[Long] <= 32L
        if (smallBlocks) {
          val a = kept.select(bc :+ col("id").as("id_a") :+ col("sh").as("sh_a"): _*)
          val b = kept.select(bc :+ col("id").as("id_b") :+ col("sh").as("sh_b"): _*)
          a.hint("shuffle_merge").join(b.hint("shuffle_merge"), blockCols)
            .filter(col("id_a") < col("id_b"))
            .select(col("id_a"), col("id_b"),
              jac(col("sh_a"), col("sh_b")).as("jaccard"))
            .filter(col("jaccard") >= t)
        } else {
          // round(x,6) >= t iff x >= t - 5e-7 (HALF_UP): size prefixes for
          // the backed-off threshold so rounded-up admissions are never lost
          val tEff = t - 5e-7
          // shingles() already emits DISTINCT shingles; ascending string
          // sort is a global total order, which is all the theorem needs
          val withSet = kept.withColumn("shs", array_sort(col("sh"))).drop("sh")
          val prefLen = (size(col("shs")) -
            ceil(size(col("shs")) * tEff) + 1).cast("int")
          val pref = withSet.select(
            bc :+ col("id") :+ explode(slice(col("shs"), lit(1), prefLen)).as("g"): _*)
          val pa = pref.select(bc :+ col("id").as("id_a") :+ col("g"): _*)
          val pb = pref.select(bc :+ col("id").as("id_b") :+ col("g"): _*)
          val cand = pa.hint("shuffle_merge")
            .join(pb.hint("shuffle_merge"), blockCols :+ "g")
            .filter(col("id_a") < col("id_b"))
            .select(col("id_a"), col("id_b")).distinct()
          val sa = withSet.select(col("id").as("id_a"), col("shs").as("sh_a"))
          val sb = withSet.select(col("id").as("id_b"), col("shs").as("sh_b"))
          cand.join(sa, "id_a").join(sb, "id_b")
            .select(col("id_a"), col("id_b"),
              jac(col("sh_a"), col("sh_b")).as("jaccard"))
            .filter(col("jaccard") >= t)
        }
    }
  }

  // --- SimHash -------------------------------------------------------------

  /**
   * 64-bit SimHash over whitespace tokens: each token's xxhash64 votes +1/-1
   * per bit; the sign vector packs into one int64. Near-dups = small
   * Hamming distance. Vote counting + packing run in the codegen'd
   * [[graft.functions.SimHashPack]] kernel (the HOF formulation evaluated a
   * 64-wide interpreted lambda per token).
   */
  def simhash(text: Column): Column = {
    val hashes = transform(
      array_distinct(TextAnalysis.tokensLower(text)), t => xxhash64(t))
    when(text.isNull || trim(text) === "", lit(null).cast("long"))
      .otherwise(graft.functions.VectorKernels.simhashPack(hashes))
  }

  /** Hamming distance between two packed 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-dup candidate pairs within Hamming distance `maxDist`,
   * blocked on 16-bit quarters of the hash (pigeonhole: any pair within
   * Hamming distance 3 shares at least one exact quarter — so for
   * maxDist <= 3 blocking is lossless). Shuffle key = (quarter index,
   * quarter value): fixed-width. Blocks larger than `maxBlockSize` are
   * dropped via the broadcast anti-join guard (a degenerate quarter —
   * e.g. the all-zero quarter short texts share — would otherwise go
   * quadratic at scale, exactly like a degenerate LSH band).
   */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBlockSize: Int = 1000): DataFrame = {
    val hashed = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
      .filter(col("sh").isNotNull)
    val blocked = hashed.select(col("id"), col("sh"),
      explode(transform(sequence(lit(0), lit(3)),
        q => struct(q.as("q"),
          call_function("shiftright", col("sh"), (q * 16).cast("int")).bitwiseAND(lit(0xFFFFL)).as("v"))))
        .as("block"))
    val oversized = blocked.groupBy("block").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBlockSize).select("block")
    val kept = blocked.join(broadcast(oversized), Seq("block"), "left_anti")
    // Unlike LSH band buckets (tiny, similarity-selected — see the
    // collected-bucket expansion in [[minhashCandidates]]), 16-bit quarter
    // blocks collide broadly, so pair expansion stays a streaming equi-join:
    // the codegen'd join filters hamming pair-by-pair without ever
    // materializing a block's full O(m^2) pair array (measured 1.8x faster
    // than the collect+transform shape at sf0.1 block sizes).
    // The join is PINNED shuffle-merge: the two sides are the same subplan,
    // so with identical hashpartitioning(block) exchanges the b-side becomes
    // a ReusedExchange — the corpus is scanned (and simhashed) ONCE for both
    // sides. Left to AQE, the small side broadcasts at test scale and each
    // side re-scans the corpus (plan audit measured 4 scans end-to-end).
    // The exchange is skew-safe: degenerate blocks were dropped map-side by
    // the broadcast anti-join above, so every shuffled block is <= maxBlockSize.
    val a = kept.select(col("block"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = kept.select(col("block"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.hint("shuffle_merge").join(b.hint("shuffle_merge"), Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("id_a", "id_b")
  }

  // --- embedding near-dup --------------------------------------------------

  /** Cosine similarity between two float/double-array columns, computed in
   * double precision by the codegen'd fused dot+norms kernel
   * [[graft.functions.CosineSim]]. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorKernels.cosine(a, b)

  /**
   * Embedding near-duplicate pairs with cosine >= threshold, blocked by a
   * coarse partition key (e.g. a cluster/label id) so the pairwise check is
   * block-local, never a global cross join. At cluster scale the blocking
   * key comes from an ANN index pass (see [[Similarity.lshBucket]]).
   */
  /**
   * Embedding near-dup pairs WITHOUT a natural blocking column — the
   * corpus-scale path [[cosineNearDups]]'s doc promises: block = seeded
   * sign-of-projection hyperplane bucket (2^bits buckets, the fused
   * [[graft.functions.HyperplaneLshBucket]] kernel), exact cosine only
   * INSIDE buckets. A pair at angle theta shares the bucket with
   * probability (1 - theta/pi)^bits (~0.96 for cos >= 0.99 at bits = 4);
   * for higher recall run with several seeds and union the pair sets.
   * The planes derive from (dim, bits, seed) alone, so the blocking is
   * reproducible and oracle-recomputable. The vector dimension is probed
   * from one row (a driver-side head(), dimension-scale not data-scale)
   * unless passed via `dim`.
   *
   * SIZE `bits` TO THE CORPUS: expected bucket occupancy is n / 2^bits,
   * and buckets over `maxBlockSize` are DROPPED by the guard (quadratic
   * in-block pairing must stay bounded — same contract as every other
   * pair path). Pick bits ~ log2(2n / maxBlockSize) so typical buckets
   * sit near half the cap; the default bits = 4 suits ~10^4 vectors, not
   * 10^9 — at corpus scale use bits 20+ (and more seeds for recall).
   */
  def cosineNearDupsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 4, seed: Long = 42L,
      dim: Option[Int] = None, maxBlockSize: Int = 1000): DataFrame = {
    val d = dim.getOrElse {
      val probe = df.select(size(col(vecCol))).limit(1).collect()
      require(probe.nonEmpty && !probe(0).isNullAt(0),
        "cosineNearDupsLsh needs a non-empty corpus with non-null vectors " +
          "to probe the embedding dimension (or pass dim explicitly)")
      probe(0).getInt(0)
    }
    val planes = graft.ops.Similarity.hyperplanes(d, bits, seed)
    cosineNearDups(
      df.withColumn("__lsh_block",
        graft.ops.Similarity.lshBucket(col(vecCol), planes)),
      idCol, vecCol, "__lsh_block", threshold, maxBlockSize)
  }

  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double,
      maxBlockSize: Int = 1000): DataFrame = {
    val v = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      col(vecCol).as("vec"))
    // The same degenerate-block guard every other pair path carries: an
    // in-block pairing is inherently quadratic, so blocks larger than
    // maxBlockSize are dropped via the skew-safe count + broadcast
    // anti-join (the count pass prunes to the block column — cheap).
    val oversized = v.groupBy("block").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBlockSize).select("block")
    val kept = v.join(broadcast(oversized), Seq("block"), "left_anti")
    // Shuffle-merge pinned like [[simhashPairs]]: the b-side reuses the
    // a-side's block exchange, so the embedding table is scanned once for
    // both join sides.
    val a = kept.select(col("block"), col("id").as("id_a"), col("vec").as("vec_a"))
    val b = kept.select(col("block"), col("id").as("id_b"), col("vec").as("vec_b"))
    a.hint("shuffle_merge").join(b.hint("shuffle_merge"), Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("vec_a"), col("vec_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /**
   * Duplicate-span profiling — the doc-level signal behind exact substring
   * dedup (Lee et al., "Deduplicating Training Data Makes Language Models
   * Better", ACL 2022): for every document, the fraction of its distinct
   * k-token spans that also occur in ANOTHER document. High dup_frac =
   * the doc is largely assembled from corpus-repeated material (mirrors,
   * quote farms, template spam) even when no single whole-doc near-dup
   * pair exists — which is exactly what [[minhashCandidates]] misses and
   * span-level dedup catches.
   *
   * Scale shape: spans are the FIXED-WIDTH int64 [[shingleHashes]] (no
   * string shuffles), one map-side-combined doc-frequency aggregation,
   * one equi-join of the span table against the df>=2 set, one per-doc
   * re-aggregation — the [[graft.ops.Curation.dedupLines]] shape, with
   * the same honest skew note: a corpus-hot span funnels its copies to
   * one partition on the probe join; AQE's skew split handles it, and
   * extreme scale salts the join key. Blank/NULL docs have no spans and
   * are absent from the output ([[graft.ops.Curation.dedupLines]]'s
   * contract).
   */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val sh = df.filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), explode(shingleHashes(col(textCol), k)).as("__h"))
    val dup = sh.groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2).select(col("__h"), lit(true).as("__d"))
    sh.join(dup, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_spans"),
        count(when(col("__d"), 1)).cast("int").as("n_dup"),
        round(count(when(col("__d"), 1)).cast("double") / count(lit(1)), 6)
          .as("dup_frac"))
  }

  /**
   * EXACT-SUBSTRING DEDUP REMOVAL (Lee et al., ACL'22 "Deduplicating
   * Training Data Makes Language Models Better" — the removal step, not
   * just [[dupSpanStats]]'s signal): every k-token span VALUE occurring at
   * >= 2 sites corpus-wide keeps exactly ONE canonical site — the minimal
   * (doc, pos) — and every other site's k token positions are removed
   * from their documents; text reassembles from the surviving tokens.
   * (The paper removes duplicated suffix-array substrings; this is the
   * fixed-width distributed rendition — same signal family as
   * [[dupSpanStats]], now acted on.)
   *
   * Contract (deterministic, oracle-restated): spans are the k-token
   * windows of the shared lowercased whitespace tokenizer at every
   * offset; sites compare as (doc, pos) pairs, so intra-document repeats
   * beyond the first are removed too; a position covered by ANY removed
   * site is dropped — overlapping removals can bite into a winner span's
   * positions (site-level removal, the honest fixed-width semantics).
   * Docs with < k tokens (and blank docs) pass through untouched. Output:
   * (idCol, n_tokens, n_removed, text_dedup) with text_dedup re-joined by
   * single spaces (token-normalized, like every dedup key in the engine).
   *
   * Scale shape: spans shuffle as 8-byte xxhash64 keys (the span STRING
   * never leaves the map side; the oracle groups by the raw span text —
   * identical grouping barring 2^-64 collisions); the winner+count pass
   * is ONE map-side-combinable aggregate (count + min-struct); removed
   * positions re-aggregate per doc into a bounded sorted set; reassembly
   * is a shuffle-free HOF projection. No window, no global sort, nothing
   * driver-resident.
   */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1, "span width must be >= 1")
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol), TextAnalysis.tokensLower(col(textCol)).as("__toks"))
      .localCheckpoint() // two consumers: span extraction + reassembly
    val spans = toks.filter(size(col("__toks")) >= k)
      .select(col(idCol).as("id"),
        explode(transform(sequence(lit(0), size(col("__toks")) - k), i =>
          struct(i.as("pos"),
            xxhash64(concat_ws(" ", slice(col("__toks"), i + 1, lit(k)))).as("h"))))
          .as("s"))
      .select(col("id"), col("s.pos").as("pos"), col("s.h").as("h"))
      .localCheckpoint() // two consumers: the winner aggregate + the site join
    val winners = spans.groupBy("h")
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col("id"), col("pos"))).as("__w"))
      .filter(col("__cnt") >= 2)
      .select(col("h"), col("__w.id").as("__wid"), col("__w.pos").as("__wpos"))
    val drops = spans.join(winners, Seq("h"))
      .filter(!(col("id") === col("__wid") && col("pos") === col("__wpos")))
      .select(col("id"), explode(sequence(col("pos"), col("pos") + (k - 1)))
        .as("__p"))
      .groupBy("id")
      .agg(sort_array(collect_set(col("__p"))).as("__drops"))
    toks.join(drops, toks(idCol) === drops("id"), "left")
      .select(toks(idCol),
        // blank docs tokenize to [""] — report 0 tokens, the
        // TextAnalysis.tokenCount contract, not the artifact
        when(size(col("__toks")) === 1 && element_at(col("__toks"), 1) === "",
          lit(0)).otherwise(size(col("__toks"))).cast("int").as("n_tokens"),
        coalesce(size(col("__drops")), lit(0)).cast("int").as("n_removed"),
        when(col("__drops").isNull, concat_ws(" ", col("__toks")))
          .otherwise(concat_ws(" ",
            transform(
              filter(sequence(lit(0), size(col("__toks")) - 1),
                i => !array_contains(col("__drops"), i)),
              i => element_at(col("__toks"), i + 1))))
          .as("text_dedup"))
  }

  /**
   * SemDeDup (Abbas et al., arXiv:2303.09540): embedding-space semantic
   * deduplication — the step AFTER exact/MinHash dedup in modern LLM
   * corpus pipelines, catching re-phrasings and boilerplate variants that
   * share no n-grams. The paper's recipe, composed here from three
   * already-oracled stages: (1) k-means-cluster the embeddings
   * ([[Similarity.ivfCentroids]] — the IVF coarse index IS SemDeDup's
   * k-means; assignment is the codegen'd [[Similarity.nearestCentroid]]
   * argmin), (2) compare pairs only WITHIN a cluster
   * ([[cosineNearDups]] with its degenerate-block cap), (3) connect
   * pairs at cosine >= `threshold` into duplicate groups
   * ([[Clustering.connectedComponents]]) and keep ONE representative per
   * group — the MIN id, deterministically (the paper keeps the member
   * with the LOWEST centroid similarity; that variant is the same
   * plumbing with a different keep rule, and the output carries the
   * cluster so callers can re-rank survivors either way).
   *
   * Scale shape: assignment is one shuffle-free projection (k×dim
   * centroid doubles ride the task closure); pairing is block-local and
   * capped, never corpus-quadratic; component closure runs on
   * pair-graph-sized data in O(log n) rounds. Output: every input id
   * with its `cluster`, its duplicate `component` (null = no in-cluster
   * near-dup) and the `keep` verdict — filter on `keep` to materialize
   * the deduplicated corpus, or aggregate `component` for group sizes.
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], threshold: Double,
      maxBlockSize: Int = 1000): DataFrame = {
    // two consumers below (pair generation + the final select/join):
    // without the lineage cut the embedding scan and the argmin assignment
    // kernel — the most expensive pass — run twice
    val assigned = df.select(col(idCol), col(vecCol),
      graft.ops.Similarity.nearestCentroid(col(vecCol), centroids).as("cluster"))
      .localCheckpoint()
    val pairs = cosineNearDups(assigned, idCol, vecCol, "cluster",
      threshold, maxBlockSize)
    val comps = graft.ops.Clustering.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    assigned.select(col(idCol), col("cluster"))
      .join(comps, Seq(idCol), "left")
      .select(col(idCol), col("cluster"), col("component"),
        (col("component").isNull || col("component") === col(idCol)).as("keep"))
  }

  // --- incremental dedup (the production delta shape) ----------------------
  //
  // At 100 TB nobody re-deduplicates the corpus per ingest; the day's DELTA
  // dedups against a persisted catalog. Two catalog forms cover the two
  // dedup families: a fingerprint set (exact) and the banded LSH index
  // (near-dup) — both are exactly what the batch operators above already
  // compute, persisted instead of discarded, so incremental and full-corpus
  // dedup stay ONE set of semantics.

  /**
   * Incremental EXACT dedup: the rows of `newDocs` that survive (1)
   * first-wins-by-min-id dedup WITHIN the delta and (2) an anti-join
   * against the seen-catalog `seen(fingerprintCol)` (sha256 of
   * whitespace-normalized lowercase text — [[TextAnalysis.fingerprint]],
   * the same key [[exactGroups]] groups on). Output carries all input
   * columns plus `fingerprint`: append it to the catalog and the loop is
   * closed. Anti-join on a 32-byte key; the catalog side broadcasts while
   * dimension-sized and AQE falls back to a shuffled anti-join past that.
   *
   * NULL-text rows have no fingerprint and are DROPPED (they can't be
   * deduplicated; a SQL equi-join would drop them asymmetrically anyway —
   * explicit is better). Route them through validation, not dedup.
   */
  def incrementalExact(newDocs: DataFrame, idCol: String, textCol: String,
      seen: DataFrame, fingerprintCol: String): DataFrame = {
    require(!newDocs.columns.contains("fingerprint"),
      "'fingerprint' is incrementalExact's output column; rename it first")
    val fp = newDocs.withColumn("fingerprint",
      TextAnalysis.fingerprint(col(textCol)))
      .filter(col("fingerprint").isNotNull)
    val winners = fp.groupBy("fingerprint").agg(min(col(idCol)).as(idCol))
    fp.join(winners, Seq("fingerprint", idCol)) // first-wins within the delta
      .join(seen.select(col(fingerprintCol).as("fingerprint")).distinct(),
        Seq("fingerprint"), "left_anti")
  }
}
