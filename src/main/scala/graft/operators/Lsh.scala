package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared banded-LSH plumbing: skew accounting + hot-bucket capping used by
  * the MinHash, SimHash and embedding near-dup operators. */
object Lsh {

  /** Per-run LSH skew accounting (no silent truncation): buckets whose size
    * exceeds the cap are dropped from candidate generation and counted
    * here. */
  final case class LshStats(droppedBuckets: Long, droppedRows: Long)

  /** Default hot-bucket cap for every banded-LSH entry point. Finite BY
    * DEFAULT: the naive call must not be the quadratic one — a single
    * mass-duplicated boilerplate key above this size is dropped (with
    * logged counts) rather than exploding into ~cap²/2 candidate pairs.
    * Callers that need exhaustive candidates (bit-parity oracles, small
    * corpora) pass Int.MaxValue explicitly. */
  val DefaultMaxBucket: Int = 10000

  /** Default stop-shingle document-frequency cap (same rationale). */
  val DefaultMaxDf: Int = 10000

  /** Derive the stop-shingle cap from a corpus census
    * ([[Dedup.ngramDocFreqTopK]] output: (gram, n_docs) sorted by
    * document frequency descending) instead of guessing: boilerplate
    * shingles (headers, licenses, templates) sit orders of magnitude above
    * the organic document-frequency tail, so the census shows a sharp
    * knee. The cap is placed just below the largest consecutive DF ratio
    * ≥ `minKneeRatio` — grams above the knee are pruned from candidate
    * generation, everything below survives, and any pair at a meaningful
    * Jaccard threshold shares many below-knee shingles, so recall is
    * preserved (DedupSpec pins this on planted boilerplate). With no knee
    * (no boilerplate in the top-k) the default cap stands. The census is
    * a top-k result (≤ k rows), so the collect here is bounded.
    *
    * Limits: only a knee INSIDE the top-k is seen — when k does not reach
    * past the boilerplate into the organic tail, the boilerplate/organic
    * boundary is missed and the cap lands between two boilerplate tiers
    * or stays at the default. The cap is an Int: a knee whose lower side
    * exceeds Int.MaxValue documents clamps to Int.MaxValue rather than
    * wrapping (a negative cap would prune every gram). */
  def tunedMaxDf(census: org.apache.spark.sql.DataFrame,
      minKneeRatio: Double = 4.0): Int = {
    val dfs = census.select("n_docs").collect().map(_.getLong(0))
      .sorted(Ordering.Long.reverse)
    var bestRatio = minKneeRatio
    var cap = DefaultMaxDf
    var i = 0
    while (i + 1 < dfs.length) {
      val hi = dfs(i).toDouble
      val lo = math.max(dfs(i + 1), 1L).toDouble
      if (hi / lo >= bestRatio) {
        bestRatio = hi / lo
        // prune strictly-above: df > cap drops
        cap = math.min(dfs(i + 1), Int.MaxValue.toLong).toInt
      }
      i += 1
    }
    cap
  }

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Lsh")

  /** Skew defense for banded LSH: a mass-duplicated boilerplate key would
    * make its per-bucket candidate join quadratic (1M identical docs →
    * 10¹² pairs in one bucket). Buckets larger than `maxBucket` are
    * dropped (run `exactDedup` first so true duplicates are already
    * collapsed), and the drop is counted + logged. The bucket census
    * shuffles only (band_idx, band_key) pairs; the hot-key set is tiny by
    * construction (≤ rows/maxBucket keys) and broadcast to the anti-join. */
  /** Run `body` over the capped band table with a SINGLE evaluation of the
    * (expensive) band-key kernel: the narrow exploded projection is cached,
    * the census job (when a cap is set) populates the cache, the candidate
    * self-join and `body` read from it, and the result is pinned with an
    * eager localCheckpoint before the cache is released (blocking).
    *
    * The exhaustive path (maxBucket = ∞) caches too: a band-table
    * SELF-join otherwise evaluates the kernel once per join side —
    * measured 2× the whole kernel cost on the minhash pipeline (Catalyst
    * does not reuse the exchange because each side projects different
    * output names before the shuffle). The price is eager evaluation at
    * call time, which these pair-operators would pay on first action
    * anyway. */
  def withCappedBuckets(exploded: DataFrame, maxBucket: Int,
      op: String = "lsh")(
      body: DataFrame => DataFrame): (DataFrame, LshStats) = {
    val cached = exploded.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (capped, stats) =
        if (maxBucket == Int.MaxValue) (cached, LshStats(0L, 0L))
        else capBuckets(cached, maxBucket, op)
      (body(capped).localCheckpoint(), stats)
    } finally cached.unpersist(blocking = true)
  }

  def capBuckets(exploded: DataFrame, maxBucket: Int,
      op: String = "lsh"): (DataFrame, LshStats) = {
    if (maxBucket == Int.MaxValue) (exploded, LshStats(0L, 0L))
    else {
      // hot-key census: tiny by construction (≤ rows/maxBucket keys — the
      // same bound that justifies the broadcast anti-join, which collects
      // to the driver anyway). One job collects keys + counts together; the
      // collected keys become a local DataFrame so nothing stays cached in
      // the session (no persist → no cache leak across repeated runs).
      val hotRows = exploded.groupBy("band_idx", "band_key")
        .agg(count(lit(1)).as("__bn")).filter(col("__bn") > maxBucket)
        .select("band_idx", "band_key", "__bn").collect()
      val stats = LshStats(hotRows.length.toLong, hotRows.map(_.getLong(2)).sum)
      if (stats.droppedBuckets == 0) (exploded, stats)
      else {
        // default-on cap visibility: the WithStats entry points carry these
        // counts in their return value; pairs-only callers get this
        // operator-labeled warning as the drop record
        log.warn(s"$op: bucket cap $maxBucket dropped ${stats.droppedBuckets} " +
          s"hot buckets (${stats.droppedRows} rows) from candidate generation " +
          "— use the *WithStats entry point to consume these counts")
        val spark = exploded.sparkSession
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("band_idx",
            exploded.schema("band_idx").dataType),
          org.apache.spark.sql.types.StructField("band_key",
            exploded.schema("band_key").dataType)))
        val hotDf = spark.createDataFrame(
          java.util.Arrays.asList(hotRows.map(r =>
            org.apache.spark.sql.Row(r.get(0), r.get(1))): _*), schema)
        val capped = exploded.join(broadcast(hotDf),
          Seq("band_idx", "band_key"), "left_anti")
        (capped, stats)
      }
    }
  }
}
