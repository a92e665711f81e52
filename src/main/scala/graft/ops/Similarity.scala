package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search over an embedding column.
 *
 * Baseline: brute-force cosine top-k — one narrow pass over the vectors
 * with the query broadcast as a literal, then a top-k reduction
 * (`orderBy.limit` compiles to TakeOrderedAndProject: per-partition heaps +
 * a driver merge, NOT a global sort shuffle).
 *
 * Scale path: random-hyperplane LSH bucketing — probe only the query's
 * bucket (and optionally neighboring buckets), turning a full scan into a
 * fraction-of-the-table scan. Recall is tunable via bits/tables.
 */
object Similarity {

  /** Brute-force cosine top-k against a literal query vector (double math). */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val q = typedLit(query.toSeq)
    df.select(col(idCol),
      round(Dedup.cosine(col(vecCol), q), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic random hyperplanes: `bits` rows of `dim` doubles. */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-of-projection LSH bucket id (int64) for each vector: bit b set iff
   * dot(vec, plane_b) > 0 — the codegen'd fused kernel
   * [[graft.functions.HyperplaneLshBucket]] (one loop over the vector for
   * all planes; the HOF formulation ran `bits` interpreted zip_with+aggregate
   * passes per row). */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    graft.functions.VectorKernels.hyperplaneLsh(vec, planes)

  /** ANN top-k: score only vectors in the query's bucket. Exactness is
   * traded for scanning ~1/2^bits of the data; rerank is exact cosine. */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, planes: Array[Array[Double]]): DataFrame = {
    val qvec = query.map(_.toDouble)
    val qBucket = planes.zipWithIndex.map { case (p, b) =>
      val dot = p.zip(qvec).map { case (w, x) => w * x }.sum
      if (dot > 0) 1L << b else 0L
    }.reduce(_ | _)
    val q = typedLit(query.toSeq)
    df.select(col(idCol), col(vecCol), lshBucket(col(vecCol), planes).as("bucket"))
      .filter(col("bucket") === qBucket)
      .select(col(idCol), round(Dedup.cosine(col(vecCol), q), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  // --- IVF (inverted-file) coarse index -------------------------------------

  /** 0-based index of the nearest centroid (squared L2), as a Column. The
   * argmin is a `least` over (distance, index) structs — struct ordering
   * compares fields left to right, so ties break to the lower index. Each
   * distance is the codegen'd fused kernel [[graft.functions.L2SqTo]]. */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty)
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(graft.functions.VectorKernels.l2sqTo(vec, c).as("d"), lit(i).as("i"))
    }
    (if (scored.length == 1) scored.head else least(scored: _*)).getField("i")
  }

  /**
   * Deterministic IVF centroid build: seeded initial picks (the k vectors
   * with the smallest xxhash64(id, seed) — a deterministic distributed
   * sample), refined by `iters` Lloyd steps. Each step is one pass over the
   * table: assign (codegen'd argmin) → element-wise mean via
   * posexplode + groupBy(cluster, pos) — the shuffle carries k×dim partial
   * sums per partition, never vectors. Centroids return driver-side
   * (k×dim doubles — broadcast scale), like every dimension table here.
   * Empty clusters keep their previous centroid.
   */
  /**
   * Coarse IVF centroids by Lloyd's algorithm over a BOUNDED
   * hash-ordered sample. One distributed pass total: the sample is a
   * deterministic pseudo-random top-`maxSample` by `xxhash64(id, seed)`
   * (TakeOrderedAndProject — partition-local top-N, no full shuffle),
   * and every Lloyd iteration then runs driver-side on that sample.
   * The previous formulation ran `iters` FULL-corpus passes, each
   * exploding every vector into per-dimension rows for the mean
   * aggregation — rows x dim shuffle volume per iteration, which is
   * exactly what cannot run at 100 TB. Centroid quality needs a
   * representative sample, not the corpus: this is how IVF indexes are
   * trained at scale.
   */
  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 3, seed: Long = 42L, maxSample: Int = 4096): Array[Array[Double]] = {
    require(maxSample >= k, s"maxSample=$maxSample must be >= k=$k")
    val sample = hashSample(df, idCol, vecCol, seed, maxSample)
    require(sample.nonEmpty, "cannot train IVF centroids on an empty corpus")
    lloyd(sample, k, iters)
  }

  /** Deterministic pseudo-random top-`maxSample` by `xxhash64(id, seed)` —
   * a TakeOrderedAndProject, never a full shuffle; the one distributed
   * pass behind every driver-side Lloyd here. */
  private def hashSample(df: DataFrame, idCol: String, vecCol: String,
      seed: Long, maxSample: Int): Array[Array[Double]] = df
    .select(col(idCol), col(vecCol))
    .orderBy(xxhash64(col(idCol), lit(seed)))
    .limit(maxSample)
    .collect()
    .map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)

  /** Driver-side Lloyd refinement; seeds = the sample's first k vectors
   * (hash order), so the result is deterministic. A sample smaller than k
   * simply yields fewer centroids. Empty clusters keep their centroid. */
  private def lloyd(sample: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    var cents = sample.take(k).map(_.clone())
    val kEff = cents.length
    for (_ <- 1 to iters) {
      val dims = cents(0).length
      val sums = Array.fill(kEff)(new Array[Double](dims))
      val counts = new Array[Long](kEff)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kEff) {
          var d = 0.0
          val cent = cents(c)
          val n = math.min(v.length, cent.length)
          var i = 0
          while (i < n) { val t = v(i) - cent(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best)
        var i = 0
        val n = math.min(v.length, dims)
        while (i < n) { s(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(kEff) { c =>
        if (counts(c) == 0) cents(c) // empty cluster keeps its centroid
        else sums(c).map(_ / counts(c))
      }
    }
    cents
  }

  // --- product quantization (the FAISS PQ compression path) ----------------

  /**
   * PQ codebook training (Jégou/Douze/Schmid, TPAMI 2011): the SAME
   * bounded hash-ordered sample as [[ivfCentroids]] (ONE distributed
   * pass), sliced into `m` subspaces, each refined by an independent
   * driver-side Lloyd. Requires the dimension divisible by `m`. The
   * result (m × k × d/m doubles) is broadcast-scale lookup data, the
   * [[ivfCentroids]] bound.
   */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String, m: Int,
      k: Int, iters: Int = 2, seed: Long = 42L,
      maxSample: Int = 4096): Array[Array[Array[Double]]] = {
    require(m > 0 && maxSample >= k, s"need m > 0 and maxSample >= k=$k")
    val sample = hashSample(df, idCol, vecCol, seed, maxSample)
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      lloyd(sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)), k, iters)
    }
  }

  /**
   * ADC approximate nearest neighbors over PQ codes: encode is one
   * codegen'd projection ([[graft.functions.PqEncode]] — at m=8 the
   * 64-dim float vector shrinks 32× to 8 code ints, which is the 100 TB
   * point: the reranking scan touches codes, not floats), the query cost
   * is an m×k lookup table built ONCE on the driver, scoring is one
   * table-lookup sum per row ([[graft.functions.PqAdcScore]]), and the
   * top-k reduces via TakeOrderedAndProject — no global sort. Returns
   * (id, code0, adc): `code0` pins the code assignment bit-for-bit
   * against the oracle, `adc` ascending is the approximate ranking
   * (rerank survivors with exact [[Dedup.cosine]] when recall matters —
   * the standard two-stage shape).
   */
  def pqAdcTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], topK: Int,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val lut = graft.functions.PqKernels.adcLut(query.map(_.toDouble), codebooks)
    val k = codebooks(0).length
    df.select(col(idCol),
      graft.functions.PqKernels.encode(col(vecCol), codebooks).as("codes"))
      .select(col(idCol),
        element_at(col("codes"), 1).as("code0"),
        round(graft.functions.PqKernels.adcScore(col("codes"), lut, k), 6).as("adc"))
      .orderBy(col("adc").asc, col(idCol).asc)
      .limit(topK)
  }

  /** IVF ANN top-k: probe only the `nprobe` clusters nearest the query —
   * the scan shrinks to ~nprobe/k of the table; rerank is exact cosine.
   * With nprobe = k this degenerates to exact brute force. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, centroids: Array[Array[Double]],
      nprobe: Int): DataFrame = {
    val qd = query.map(_.toDouble)
    def l2sq(c: Array[Double]): Double =
      c.zip(qd).map { case (a, b) => (a - b) * (a - b) }.sum
    val probeIds = centroids.zipWithIndex
      .sortBy { case (c, i) => (l2sq(c), i) }
      .take(nprobe).map(_._2)
    val q = typedLit(query.toSeq)
    df.select(col(idCol), col(vecCol),
      nearestCentroid(col(vecCol), centroids).as("c"))
      .filter(col("c").isin(probeIds.map(Integer.valueOf).toSeq: _*))
      .select(col(idCol), round(Dedup.cosine(col(vecCol), q), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * IVFADC — the composition FAISS ships as IndexIVFPQ (Jégou, Douze &
   * Schmid, "Product quantization for nearest neighbor search",
   * TPAMI 2011) and the actual 100 TB ANN shape: coarse-quantize the
   * corpus into IVF cells so the probe touches only the `nprobe` cells
   * nearest the query (the scan shrinks ~nprobe/k), then score the
   * survivors with PQ asymmetric-distance lookups over the codes (each
   * row costs m table lookups on 8 code ints instead of a 64-float dot).
   * Codes are over the RAW vectors (FAISS `by_residual=false`), which
   * keeps the oracle restatement exact; residual encoding is a recall
   * refinement, not a scale change. One shuffle-free projection + a
   * TakeOrderedAndProject — no global sort, no join. Returns
   * (id, cell, code0, adc): `cell` pins the coarse routing, `code0` the
   * fine assignment, `adc` ascending the approximate ranking.
   */
  def ivfAdcTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], topK: Int, centroids: Array[Array[Double]],
      nprobe: Int, codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val qd = query.map(_.toDouble)
    def l2sq(c: Array[Double]): Double =
      c.zip(qd).map { case (a, b) => (a - b) * (a - b) }.sum
    val probeIds = centroids.zipWithIndex
      .sortBy { case (c, i) => (l2sq(c), i) }
      .take(nprobe).map(_._2)
    val lut = graft.functions.PqKernels.adcLut(qd, codebooks)
    val k = codebooks(0).length
    df.select(col(idCol), col(vecCol),
      nearestCentroid(col(vecCol), centroids).as("cell"))
      .filter(col("cell").isin(probeIds.map(Integer.valueOf).toSeq: _*))
      .select(col(idCol), col("cell"),
        graft.functions.PqKernels.encode(col(vecCol), codebooks).as("codes"))
      .select(col(idCol), col("cell"),
        element_at(col("codes"), 1).as("code0"),
        round(graft.functions.PqKernels.adcScore(col("codes"), lut, k), 6).as("adc"))
      .orderBy(col("adc").asc, col(idCol).asc)
      .limit(topK)
  }

  /**
   * Brute-force batch kNN join (probe set x large corpus): broadcast the
   * probe side, stream the corpus, then reduce to top-k per probe with the
   * bounded [[graft.functions.TopKByScore]] aggregate.
   *
   * The round-1 formulation (`row_number() OVER (PARTITION BY probe_id)`)
   * shuffled EVERY scored (probe, corpus) row into #probes partitions — one
   * reducer per probe receiving the whole corpus. The aggregate formulation
   * partial-aggregates map-side: each corpus partition emits at most one
   * k-entry heap per probe, so the exchange carries
   * #partitions x #probes x k fixed-width entries, independent of corpus
   * size — the shape that survives 10^9 corpus rows.
   *
   * Contract (fail-fast, not silent):
   *  - `idCol` must be NUMERIC on both sides — the aggregate keeps ids as
   *    long. A string/UUID id would cast to null and silently drop every
   *    row; map such ids to a dense surrogate first and join back after.
   *  - the probe side is BROADCAST (that is what makes the corpus side
   *    shuffle-free), so it must stay dimension-sized: at most `maxProbes`
   *    rows (default 100k ~ tens of MB of vectors). Larger probe sets need
   *    a partitioned formulation (e.g. LSH-bucket both sides and join on
   *    bucket), not a bigger broadcast.
   */
  def knnJoin(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, maxProbes: Int = 100000): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    for ((df, side) <- Seq(corpus -> "corpus", probes -> "probes")) {
      val dt = df.schema(idCol).dataType
      require(dt.isInstanceOf[NumericType],
        s"knnJoin $side id column '$idCol' must be numeric (got $dt): map to " +
          "a dense surrogate id and join back, or the long cast nulls every row")
    }
    // bounded count: scans at most maxProbes+1 probe rows, never the corpus
    val nProbes = probes.limit(maxProbes + 1).count()
    require(nProbes <= maxProbes,
      s"knnJoin probe side exceeds maxProbes=$maxProbes rows - the probe set " +
        "is broadcast and must stay dimension-sized; use a bucketed variant")
    val c = corpus.select(col(idCol).cast("long").as("corpus_id"), col(vecCol).as("cvec"))
    val p = broadcast(probes.select(col(idCol).cast("long").as("probe_id"), col(vecCol).as("pvec")))
    val scored = c.join(p, col("corpus_id") =!= col("probe_id"))
      .select(col("probe_id"), col("corpus_id"),
        round(Dedup.cosine(col("cvec"), col("pvec")), 6).as("cos"))
    scored.groupBy("probe_id")
      .agg(graft.functions.TopKByScore.topK(col("cos"), col("corpus_id"), k).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("probe_id"), col("e.id").as("corpus_id"),
        col("e.score").as("cos"), (col("pos") + 1).cast("int").as("rank"))
  }

  // ----- int8 scalar quantization (the ANN storage path) -----------------
  //
  // A 100 TB embedding corpus at float32/dim-1024 is 4 KB/vector; per-dim
  // affine quantization to one byte cuts the scanned bytes (and the
  // executor-memory footprint of every ANN pass above) 4x at a recall cost
  // that per-dim min/max calibration keeps small — the same scheme FAISS
  // ships as ScalarQuantizer(QT_8bit). Codes are exact integers, so the
  // quantizer itself is bit-reproducible across engines (every float op in
  // the code formula is restated verbatim by the DuckDB oracle); only the
  // reconstructed-similarity step carries float rounding, handled as
  // everywhere else with round(·, 6).

  /**
   * Per-dimension (min, max) calibration in ONE aggregation pass:
   * `posexplode` + `groupBy(pos)` — partial aggregation means the shuffle
   * carries #partitions x dim rows, never the corpus. Returns dim-sized
   * driver arrays (the same tiny-lookup shape as [[ivfCentroids]]).
   *
   * `clip` > 0 switches to PERCENTILE calibration (the [clip, 1-clip]
   * per-dim quantiles instead of min/max — FAISS's rangestat-quantile
   * knob): one embedding with an exploded dimension no longer stretches
   * that dimension's whole code range over its outlier (leaving every
   * normal value crammed into a few codes); outliers saturate to the
   * range edges instead, which [[quantizeInt8]]'s two-sided clamp makes
   * safe by construction.
   */
  def quantizationParams(df: DataFrame, vecCol: String,
      clip: Double = 0.0): (Array[Double], Array[Double]) = {
    require(clip >= 0 && clip < 0.5, s"clip must be in [0, 0.5), got $clip")
    val u = df.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col("pos"), col("x").cast("double").as("x"))
    val bounds =
      if (clip == 0.0)
        u.groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
      else
        u.groupBy("pos")
          .agg(percentile(col("x"), array(lit(clip), lit(1 - clip))).as("ps"))
          .select(col("pos"), element_at(col("ps"), 1).as("mn"),
            element_at(col("ps"), 2).as("mx"))
    val rows = bounds.orderBy("pos").collect()
    require(rows.nonEmpty, "cannot calibrate a quantizer on an empty corpus")
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /**
   * Quantize a vector column to int8 codes (array<tinyint>, -128..127):
   * `code_i = greatest(0, least(255,
   *     floor((x_i - mn_i) * (256.0 / (mx_i - mn_i))))) - 128`,
   * a degenerate dimension (mx == mn) coding to -128. Clamped at BOTH ends
   * (FAISS QT_8bit's contract): a vector OUTSIDE the calibration corpus —
   * a fresh probe, appended data — saturates to the range edge instead of
   * wrapping through the byte cast to the opposite end. `floor`, not
   * round — the engine and a SQL oracle truncate identical IEEE doubles
   * identically, so codes compare EXACTLY (no epsilon). One projection
   * against literal parameter arrays; NULL vectors stay NULL.
   */
  def quantizeInt8(vec: Column, mins: Array[Double], maxs: Array[Double]): Column = {
    require(mins.length == maxs.length && mins.nonEmpty, "bad quantization params")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.QuantizeInt8Expr(
      ColumnBridge.expression(vec), mins.clone(), maxs.clone()))
  }

  /** Midpoint reconstruction: `mn_i + (code_i + 128 + 0.5) * ((mx_i - mn_i)
   * / 256.0)` (array<double>) — the decode half of [[quantizeInt8]], used
   * to score quantized vectors with the same fused cosine kernel as the
   * float path. */
  def dequantizeInt8(code: Column, mins: Array[Double], maxs: Array[Double]): Column = {
    require(mins.length == maxs.length && mins.nonEmpty, "bad quantization params")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.DequantizeInt8Expr(
      ColumnBridge.expression(code), mins.clone(), maxs.clone()))
  }
}
