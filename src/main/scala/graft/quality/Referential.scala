package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Referential-integrity checks of fact columns against dimension tables
 * (north_rule: repo/lang vs dimension tables with broadcast hash join).
 *
 * The reference models RI as broadcast-set membership (its ontology/taxonomy
 * plugins load the whole reference file into an in-memory hash,
 * Plugin/Ontology.pm:19-34 — with a documented 4.5x win over per-value
 * scans). At cluster scale the same idea is a broadcast hash anti-join:
 * the dimension ships once per executor, the fact side streams through with
 * NO shuffle of the (huge) fact table.
 */
object Referential {

  /** Fact rows whose `factKey` has no match in `dim.dimKey` (NULLs are not
   * violations — absence is the `required` rule's concern, matching the
   * reference's empty-cell skip semantics). */
  def violations(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String): DataFrame = {
    val d = broadcast(dim.select(col(dimKey).as(factKey)).distinct())
    fact.filter(col(factKey).isNotNull)
      .join(d, Seq(factKey), "left_anti")
  }

  /** Distinct violating key values with occurrence counts — the compact
   * report form (the full-row form above feeds the violations sink). */
  def violationSummary(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String): DataFrame =
    violations(fact, factKey, dim, dimKey)
      .groupBy(col(factKey))
      .agg(count(lit(1)).as("n_rows"))

  /** Literal-set form for small in-config dimensions (Enum-style): stays a
   * pure predicate inside the single validation pass — no join at all. */
  def setViolations(fact: DataFrame, factKey: String, allowed: Set[String]): DataFrame =
    fact.filter(col(factKey).isNotNull && !col(factKey).isin(allowed.toSeq: _*))

  /**
   * Bloom-probed referential integrity for dimensions TOO BIG to broadcast
   * exactly: an exact broadcast set over 10^8 64-bit keys costs gigabytes
   * per executor (hash-set overhead included); a Bloom filter at 1% fpp
   * costs ~1.2 bits/key (~120 MB) and still answers "definitely absent"
   * EXACTLY — a Bloom filter has no false negatives, so every row that
   * fails the probe is a true violation, detected in the scan projection
   * with no join at all ([[graft.functions.BloomMightContain]]).
   *
   * Two modes, two honest cost statements:
   *
   *  - `confirm = false`: return only the bloom-definite violations.
   *    Exact precision (nothing flagged is innocent), approximate recall
   *    (~fpp of true violations slip through as false "maybe"s) — and the
   *    whole check is ONE shuffle-free codegen'd filter over the fact
   *    scan. This is the 100 TB MONITORING shape: alert on definite
   *    violations continuously, run the exact audit on demand. The output
   *    is still deterministic — the filter is a pure function of the
   *    dimension key SET (fixed-seed hashes, bitwise-OR merge), never of
   *    partitioning or insertion order.
   *
   *  - `confirm = true` (default): exact answer, row-equal to
   *    [[violations]]. Bloom-passing rows (every true match plus ~fpp of
   *    the violations) still confirm through a shuffled anti-join on the
   *    key — an anti-join must see every candidate, so the bloom does NOT
   *    shrink that shuffle; what it buys is the definite violations
   *    surfacing early and join-free, and the dimension never needing an
   *    executor-resident exact set. (When the dimension DOES fit a
   *    broadcast, plain [[violations]] is strictly better — this operator
   *    is the past-broadcast-scale fallback, not a replacement.)
   */
  def bloomViolations(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String,
      expectedItems: Long, fpp: Double = 0.01,
      confirm: Boolean = true): DataFrame = {
    import graft.functions.BloomMightContain
    val bloom = BloomMightContain.broadcastBloom(dim, dimKey, expectedItems, fpp)
    val probe = BloomMightContain.mightContain(col(factKey), bloom)
    val definite = fact.filter(col(factKey).isNotNull && !probe)
    if (!confirm) definite
    else {
      val maybe = fact.filter(col(factKey).isNotNull && probe)
      val dimKeys = dim.select(col(dimKey).cast(
        fact.schema(factKey).dataType).as(factKey)).distinct()
      definite.unionByName(maybe.join(dimKeys, Seq(factKey), "left_anti"))
        .select(fact.columns.map(col).toSeq: _*) // fact's column order
    }
  }

  /** [[bloomViolations]] in the compact distinct-key report form of
   * [[violationSummary]]. */
  def bloomViolationSummary(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame =
    bloomViolations(fact, factKey, dim, dimKey, expectedItems, fpp)
      .groupBy(col(factKey))
      .agg(count(lit(1)).as("n_rows"))
}
