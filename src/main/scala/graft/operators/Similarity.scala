package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import Lsh.LshStats

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]).
  *
  * Dot products run as codegen'd `zip_with` + `aggregate` folds in DOUBLE:
  * float32→double casts are exact and the fold is strictly sequential, so
  * scores are bit-identical to any sequential-summation implementation
  * (including the DuckDB oracle).
  *
  * Scale paths:
  *  - brute force is O(Q·N) with the queries broadcast (no shuffle of the
  *    corpus) and a two-phase top-k so no single reducer sees more than
  *    ~N/salt · |Q-bucket| rows;
  *  - the banded sign-LSH variants prune candidates to docs sharing at
  *    least one of `bands` sign-pattern buckets — equi-joins Spark executes
  *    shuffle- or broadcast-hash, with a hot-bucket cap for skew.
  */
object Similarity {

  /** Sequential-fold dot product (native expression; see
    * graft.functions.DotProduct for the bit-parity argument vs the
    * zip_with/aggregate Column formulation and the DuckDB oracle). */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_product(a, b)

  /** The Column formulation the native expression replaces (kept for the
    * equivalence spec). */
  private[graft] def dotColumnForm(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** try_divide: a zero-norm vector yields null (ANSI division would
    * throw); ranking/threshold filters drop null/NaN cosines. */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), l2norm(a) * l2norm(b))

  /** Sign-quantization bucket for band `band`: bits over dims
    * [band·bits, (band+1)·bits). bucket = Σ 2^i · [v[band·bits+i] > 0].
    * Cheap, deterministic, engine-neutral. */
  def signBandKey(vec: Column, band: Int, bits: Int): Column =
    (0 until bits).map(i =>
      // try_element_at: out-of-range dims read null → bit 0 (matches
      // DuckDB list indexing), so short vectors don't throw under ANSI
      when(try_element_at(vec, lit(band * bits + i + 1)) > lit(0.0f), lit(1 << i))
        .otherwise(lit(0)))
      .reduce(_ + _)

  /** Back-compat single-band bucket over the first `bits` dimensions. */
  def signBucket(vec: Column, bits: Int = 8): Column = signBandKey(vec, 0, bits)

  /** (id, band_idx, band_key) table: one row per band per vector. */
  private def bandTable(df: DataFrame, idCol: String, vecCol: String,
      bands: Int, bits: Int): DataFrame =
    df.select(col(idCol).as("doc"),
      posexplode(array((0 until bands).map(b =>
        signBandKey(col(vecCol), b, bits)): _*)).as(Seq("band_idx", "band_key")))

  /** Deterministic two-phase top-k: phase 1 ranks within
    * (query, neighbor-salt) groups and keeps k, phase 2 ranks the
    * k·nSalts survivors per query. Identical output to a single global
    * window, but no reducer ever materializes a whole query's candidate
    * list — the skew defense that makes top-k survive a hot bucket or a
    * 10⁹-row corpus. */
  private def topKPerQuery(scored: DataFrame, k: Int, nSalts: Int = 32): DataFrame = {
    // zero-norm vectors: try_divide yields null and a NaN would sort ABOVE
    // real scores — neither may occupy a rank. Single-reference nanvl form
    // (NaN→null, null stays null) so pushdown into the scoring join's
    // condition cannot duplicate the dot product (see
    // embeddingNearDupPairs).
    val salted = scored
      .filter(nanvl(col("cos"), lit(null).cast(DoubleType)).isNotNull)
      .withColumn("__salt", pmod(col("neighbor_id"), lit(nSalts)))
    val w1 = Window.partitionBy(col("query_id"), col("__salt"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    salted.withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= k)
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast(IntegerType).as("rank"),
        col("neighbor_id"), col("cos"))
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded). The query side is broadcast. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms are computed once per vector BEFORE the pair join (bit-identical
    // to recomputing per pair: same fold), so each pair costs one dot
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      l2norm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2norm(col(vecCol)).as("__cn"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        try_divide(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
    topKPerQuery(scored, k)
  }

  /** Banded sign-LSH ANN: candidates are corpus vectors sharing at least
    * one of `bands` sign-pattern buckets with the query (multi-probe
    * union, deduped), then exact cosine top-k. `maxBucket` drops
    * pathological buckets (e.g. all-positive embeddings clustering on one
    * sign pattern) with logged counts. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bands: Int = 4, bits: Int = 8,
      maxBucket: Int = Lsh.DefaultMaxBucket): DataFrame =
    lshTopKWithStats(corpus, queries, k, idCol, vecCol, bands, bits, maxBucket)._1

  def lshTopKWithStats(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bands: Int = 4, bits: Int = 8,
      maxBucket: Int = Lsh.DefaultMaxBucket): (DataFrame, LshStats) = {
    // capBuckets, as in embeddingNearDupPairsWithStats: the cheap
    // sign-band kernel is re-evaluated by the census instead of cached,
    // so the operator stays one lazy plan and pins nothing
    val (cb, stats) = Lsh.capBuckets(
      bandTable(corpus, idCol, vecCol, bands, bits), maxBucket, "lshTopK")
    val qb = bandTable(queries, idCol, vecCol, bands, bits)
      .toDF("query_id", "band_idx", "band_key")
    val cand = cb.select(col("doc").as("neighbor_id"), col("band_idx"),
        col("band_key"))
      .join(broadcast(qb), Seq("band_idx", "band_key"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2norm(col(vecCol)).as("__cn"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      l2norm(col(vecCol)).as("__qn"))
    val scored = cand.join(c, "neighbor_id").join(broadcast(q), "query_id")
      .withColumn("cos",
        try_divide(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
    (topKPerQuery(scored, k), stats)
  }

  /** IVF (inverted-file) ANN: corpus vectors are assigned to their nearest
    * centroid cell (one broadcast pass — the standard IVF assignment cost,
    * |corpus|·|centroids| dots with C ≈ √N centroids); each query probes
    * its `nProbe` nearest cells and ranks candidates by exact cosine.
    * Centroids are caller-supplied (any deterministic selection or a
    * trained codebook) and broadcast. Ties break by centroid id, so
    * results are deterministic and engine-reproducible. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = centroids.select(col(idCol).as("__cid"), col(vecCol).as("__cv0"),
      l2norm(col(vecCol)).as("__cn0"))
    def nearestCells(df: DataFrame, outId: String, n: Int): DataFrame = {
      val v = df.select(col(idCol).as(outId), col(vecCol).as("__v"),
        l2norm(col(vecCol)).as("__vn"))
      val w = Window.partitionBy(col(outId))
        .orderBy(col("__cc").desc, col("__cid"))
      v.join(broadcast(cents))
        .withColumn("__cc",
          try_divide(dot(col("__v"), col("__cv0")), col("__vn") * col("__cn0")))
        .withColumn("__cr", row_number().over(w))
        .filter(col("__cr") <= n)
        .select(col(outId), col("__cid").as("cell"))
    }
    val cells = nearestCells(corpus, "neighbor_id", 1)
    val probes = nearestCells(queries, "query_id", nProbe)
    val cand = cells.join(broadcast(probes), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2norm(col(vecCol)).as("__cn"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      l2norm(col(vecCol)).as("__qn"))
    val scored = cand.join(c, "neighbor_id").join(broadcast(q), "query_id")
      .withColumn("cos",
        try_divide(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
    topKPerQuery(scored, k)
  }

  /** Embedding near-duplicate pairs via banded sign-LSH: all (a<b) pairs
    * sharing at least one sign-band bucket with exact cosine ≥ threshold.
    * Candidate generation shuffles only (id, band_idx, band_key); vectors
    * join back once per verified side — the same candidate/verify shape as
    * Dedup.minhashLshPairs, and the replacement for the old O(n²)
    * BroadcastNestedLoopJoin formulation. */
  def embeddingNearDupPairs(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bands: Int = 4, bits: Int = 8,
      maxBucket: Int = Lsh.DefaultMaxBucket): DataFrame =
    embeddingNearDupPairsWithStats(df, threshold, idCol, vecCol, bands, bits,
      maxBucket)._1

  def embeddingNearDupPairsWithStats(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bands: Int = 4, bits: Int = 8,
      maxBucket: Int = Lsh.DefaultMaxBucket): (DataFrame, LshStats) = {
    // Round-6 shape: verify FIRST, deduplicate LAST (guide §1.2). The old
    // shape deduplicated raw bucket matches before verification —
    // measured at sf0.1×10 that dropDuplicates ate 3.5M join rows into
    // 3.18M distinct pairs: per-task hash maps of ~10⁵ entries and a
    // 3.2M-row exchange to save ~10% of the dot products. A band match is
    // now verified INLINE (cosine + threshold, ~64 FMA — cheaper than a
    // pair-map insert) and the distinct runs over the few SURVIVING pairs
    // (22.5k here, sub-percent at any scale). Duplicate matches (a pair
    // sharing several bands, ≤ `bands` copies) produce bit-identical rows
    // (the dot fold is deterministic), so dropDuplicates-last yields
    // exactly the old result set; the whole candidate+verify chain is one
    // codegen pipeline over broadcast hash joins with no corpus-sized
    // exchange before the final tiny distinct.
    // capBuckets (no cache, no checkpoint): unlike the MinHash/SimHash
    // kernels (one md5 per shingle/token), the sign-band kernel is ~32
    // float compares per vector — re-evaluating it per join side is far
    // cheaper than a persist + eager-checkpoint barrier pair, so the
    // whole operator stays one lazy plan
    val (capped, stats) = Lsh.capBuckets(
      bandTable(df, idCol, vecCol, bands, bits), maxBucket, "embeddingNearDupPairs")
    val a = capped.select(col("doc").as("vec_a"), col("band_idx"), col("band_key"))
    val b = capped.select(col("doc").as("vec_b"), col("band_idx"), col("band_key"))
    val matches = a.join(b, Seq("band_idx", "band_key"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
    val v = df.select(col(idCol).as("__vid"), col(vecCol).as("__v"),
      l2norm(col(vecCol)).as("__n"))
    val verified = matches
      .join(v.select(col("__vid").as("vec_a"), col("__v").as("__va"),
        col("__n").as("__na")), "vec_a")
      .join(v.select(col("__vid").as("vec_b"), col("__v").as("__vb"),
        col("__n").as("__nb")), "vec_b")
      .withColumn("cos",
        try_divide(dot(col("__va"), col("__vb")), col("__na") * col("__nb")))
      // zero-norm vectors: try_divide yields null (ANSI would throw) and
      // Spark's NaN sorts/compares above everything — exclude both. The
      // nanvl single-reference form matters: the filter is pushed into the
      // vector join's condition, where `!isnan(cos) && cos >= t` would
      // re-expand the cos alias into TWO dot_product evaluations per
      // candidate row (no cross-reference CSE in join conditions);
      // nanvl(cos, null) >= t references cos once — NaN→null→filtered,
      // null→null→filtered, exactly the old predicate.
      .filter(nanvl(col("cos"), lit(null).cast(DoubleType)) >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
      .dropDuplicates("vec_a", "vec_b")
    (verified, stats)
  }
}
