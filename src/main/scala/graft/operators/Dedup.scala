package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.metrics.JobLabel

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All hashing is md5-based so results are engine-independent and exactly
  * reproducible by the DuckDB oracle. Scale notes:
  *  - exact dedup: one hash-shuffle on the text digest (not the text),
  *    so shuffle volume is 32 bytes/row regardless of document size;
  *  - MinHash+LSH: signatures/bands computed map-side per document, a
  *    single shuffle on (band_idx, band_key); candidate verification is
  *    per-bucket, so cost scales with collisions, not n².
  */
object Dedup {

  /** Whitespace-collapsed lowercase normalization (shared with
    * TextFunctions; oracles use its normTextSql twin). */
  def normText(c: Column): Column = graft.functions.TextFunctions.normText(c)

  /** Exact dedup: group by content digest, keep min id.
    * GE has no dedup operator; nearest primitive is compound uniqueness
    * (compound_columns_unique.py:187-193) — this is its group-reduce dual. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(normText(col(textCol))).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct word n-gram shingles (degenerate docs → whole-text shingle). */
  def shingles(c: Column, n: Int = 3): Column = {
    val w = split(normText(c), " ")
    val grams = transform(sequence(lit(1), size(w) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(w, i + lit(k))): _*))
    array_distinct(when(size(w) >= n, grams).otherwise(array(normText(c))))
  }

  /** MinHash signature: k independent hash functions realized as
    * lexicographic minima of salted md5 digests. Column formulation; the
    * pipeline uses the single-pass native expression
    * (graft.functions.MinHashSig) which is semantically identical but
    * doesn't hand Catalyst a 12-way md5 expression forest. */
  def minhashSignature(shinglesCol: Column, k: Int): Column =
    array((0 until k).map(j =>
      array_min(transform(shinglesCol, s => md5(concat(lit(s"$j:"), s))))): _*)

  import Lsh.LshStats

  /** MinHash LSH near-duplicate pairs with exact n-gram-Jaccard
    * verification. k hashes split into `bands` bands; docs sharing any
    * band key become candidates; candidates are verified with exact
    * Jaccard over distinct shingle sets and filtered at `threshold`.
    *
    * Scale shape: band keys come from ONE native expression
    * (minhash_bands) so the candidate shuffle carries only
    * (doc_id, band_idx, band_key) — never the shingle arrays; shingles are
    * joined back exactly once per verified candidate side. `maxBucket`
    * bounds the worst-case bucket join (see capBuckets). */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4, threshold: Double = 0.5,
      maxBucket: Int = Lsh.DefaultMaxBucket): DataFrame =
    minhashLshPairsWithStats(df, idCol, textCol, k, bands, threshold, maxBucket)._1

  def minhashLshPairsWithStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 4, threshold: Double = 0.5,
      maxBucket: Int = Lsh.DefaultMaxBucket): (DataFrame, LshStats) =
    JobLabel(df.sparkSession, "dedup:minhash_pairs") {
      val exploded = df.select(col(idCol).as("doc"),
        posexplode(graft.functions.MinHashSig.minhash_bands(col(textCol), k, bands))
          .as(Seq("band_idx", "band_key")))
      // Single kernel evaluation under the default cap: the narrow
      // (doc, band_idx, band_key) projection is cached for the census +
      // candidate anti-join until the candidates are pinned (an eager
      // localCheckpoint that also observes their count) — the MinHash
      // kernel runs once per document total.
      val nCandObs = new Observation("minhash_candidates")
      val (cand, stats) = Lsh.withCappedBuckets(exploded, maxBucket, "minhashLshPairs") { capped =>
        val a = capped.select(col("doc").as("doc_a"), col("band_idx"), col("band_key"))
        val b = capped.select(col("doc").as("doc_b"), col("band_idx"), col("band_key"))
        a.join(b, Seq("band_idx", "band_key"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b")
          .dropDuplicates("doc_a", "doc_b")
          .observe(nCandObs, count(lit(1)).as("n"))
      }
      // Verification joins the (id, shingles) table back once per side,
      // but ONLY for docs in a candidate pair: without that prefilter each
      // side shuffles the FULL corpus's shingle arrays and runs the shingle
      // kernel over every document (2× ~20 GB of shuffle on a 10M-doc
      // corpus) to verify a sub-percent candidate set. Small id sets
      // broadcast into a map-side semi-join; above the limit it shuffles
      // ids only. The filtered table is cached so the kernel runs once per
      // candidate doc; it and the candidates are released once the
      // verified pairs, the one pin left, are pinned.
      val candIds = cand.select(col("doc_a").as("__sid"))
        .union(cand.select(col("doc_b").as("__sid"))).distinct()
      // broadcast gate from the pair count observed on the checkpoint job
      // (no job of its own; a distinct-count of the ids would pay a full
      // exchange just to make this decision; 2·|pairs| bounds |ids| from
      // above, so the gate stays conservative)
      val nCand = nCandObs.get("n").asInstanceOf[Long]
      val idsHinted =
        if (2L * nCand <= BroadcastIdLimit) broadcast(candIds) else candIds
      val sh = df.select(col(idCol).as("__sid"),
          graft.functions.MinHashSig.shingles_native(col(textCol)).as("__sh"))
        .join(idsHinted, Seq("__sid"), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val verified = try {
        cand
          .join(sh.select(col("__sid").as("doc_a"), col("__sh").as("sh_a")), "doc_a")
          .join(sh.select(col("__sid").as("doc_b"), col("__sh").as("sh_b")), "doc_b")
          .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType))
          .withColumn("jaccard",
            col("__i") / ((size(col("sh_a")) + size(col("sh_b"))).cast(DoubleType) - col("__i")))
          .filter(col("jaccard") >= threshold)
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
          .localCheckpoint()
      } finally { sh.unpersist(blocking = true); release(cand) }
      (verified, stats)
    }

  /** Candidate-id sets at or below this size are broadcast into the
    * verification semi-join (ids are 8-byte longs: 4M ids ≈ 32 MB plain,
    * comfortably under Spark's 8 GB broadcast ceiling); larger sets fall
    * back to a shuffled semi-join that still carries only ids. */
  val BroadcastIdLimit: Long = 4000000L

  /** N-gram-Jaccard near-dup pairs WITHOUT MinHash: an inverted index on
    * shingles proposes candidates (docs sharing ≥1 shingle), the join's
    * pair count verifies them. `maxDf` is stop-shingle pruning: the hot
    * shingles H (in more than `maxDf` docs) leave the index, since one
    * shared by 1M docs would propose 10¹² pairs. So the operator computes:
    *  - at `maxDf = Int.MaxValue`, the exact Jaccard |A∩B| / |A∪B|;
    *  - at a finite `maxDf`, |A∩B∖H| / (|A| + |B| − |A∩B∖H|): shared
    *    shingles outside H over the FULL set sizes, a lower bound on the
    *    Jaccard, equal to it for pairs sharing no hot shingle. Pairs
    *    sharing only hot shingles are left out; a pair sharing some can
    *    fall below `threshold`.
    * The shuffle carries (shingle, doc_id, set size) postings only. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxDf: Int = Lsh.DefaultMaxDf): DataFrame = {
    // Verification FUSED into the index join: postings (doc,
    // |shingles(doc)|, shingle) are hash-partitioned by shingle ONCE; the
    // self-join reads that single exchange from both sides (ReusedExchange
    // — the rename to doc_a/doc_b sits ABOVE the exchange, so both exchange
    // subtrees canonicalize identically), and |A ∩ B| per (doc_a, doc_b)
    // comes straight out of the join as a partially-aggregated count, with
    // the set sizes riding the postings: integer arithmetic bit-identical
    // to an array_intersect verification and to the DuckDB oracle. (At
    // sf0.1 this replaced ≈50 s of executor CPU of per-pair array
    // intersection, a dropDuplicates exchange and two pins.)
    //
    // The shingle STRING (not a 64-bit hash) is the join key: an
    // intersection COUNT inherits hash collisions as wrong counts,
    // whereas collisions in the old candidate stage were verified away.
    // String equality keeps the operator exact at any scale.
    // explode_OUTER on purpose: plain explode makes the optimizer infer a
    // `size(shingles(text)) > 0` filter below the projection, re-expanding
    // the alias and running the shingle kernel a second time per row (the
    // multi-referenced-alias gotcha); outer generate infers nothing, and
    // shingles_native never returns an empty array (degenerate docs yield
    // the whole-text shingle), so the row set is identical.
    val arr = df.select(col(idCol).as("doc"),
      graft.functions.MinHashSig.shingles_native(col(textCol)).as("__arr"))
    val posting = arr
      .select(col("doc"), size(col("__arr")).as("__n"),
        explode_outer(col("__arr")).as("sh"))
      .repartition(col("sh"))
    val pruned =
      if (maxDf == Int.MaxValue) posting
      else {
        // stop-shingle census reads the SAME exchange (no extra shuffle:
        // posting is already partitioned by sh) and broadcasts the tiny
        // hot set (≤ rows/maxDf keys) into a partitioning-preserving
        // anti-join, all within one lazy plan
        val hot = posting.groupBy("sh")
          .agg(count(lit(1)).as("__df")).filter(col("__df") > maxDf)
          .select("sh")
        posting.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    val a = pruned.select(col("sh"), col("doc").as("doc_a"), col("__n").as("__na"))
    val b = pruned.select(col("sh"), col("doc").as("doc_b"), col("__n").as("__nb"))
    // merge hint: without it the planner broadcasts one side at small
    // sizes, duplicating the whole posting subtree (kernel + shuffle) into
    // the broadcast build; as a sort-merge join both sides require the
    // SAME hashpartitioning(sh) — the single repartition exchange above is
    // reused (ReusedExchange/ReusedQueryStage) and the kernel runs once
    a.join(b.hint("merge"), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).cast(DoubleType).as("__i"),
        min(col("__na")).as("__sa"), min(col("__nb")).as("__sb"))
      .withColumn("jaccard",
        col("__i") / ((col("__sa") + col("__sb")).cast(DoubleType) - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** 60-bit token hash from the md5 hex prefix (cross-engine exact). */
  def tokenHash60(w: Column): Column =
    conv(substring(md5(w), 1, 15), 16, 10).cast(LongType)

  private val SimhashBits = 60

  /** SimHash fingerprint over word tokens: bit i of the fingerprint is the
    * majority vote of bit i across token hashes. Native single-pass kernel
    * (graft.functions.SimHashCore) — one digest per token, no 120-reference
    * Column forest over the tokenized array. */
  def simhash(textCol: Column): Column =
    graft.functions.SimHashSig.simhash_sig(textCol)

  /** The equivalent Column formulation, kept as the executable spec the
    * native kernel is tested against (DedupSpec equivalence case). */
  private[graft] def simhashColumnForm(textCol: Column): Column = {
    val hs = transform(split(normText(textCol), " "), w => tokenHash60(w))
    val n = size(hs)
    (0 until SimhashBits).map { i =>
      val ones = size(filter(hs, h => shiftright(h, i).bitwiseAND(lit(1L)) === 1L))
      when(ones * 2 > n, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** SimHash near-dup pairs: band the 60-bit fingerprint into 4×15-bit
    * LSH keys, verify candidates by Hamming distance. The fingerprint is
    * only 8 bytes, so it rides the band shuffle (no join-back needed);
    * `maxBucket` bounds hot boilerplate buckets (see capBuckets). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6, maxBucket: Int = Lsh.DefaultMaxBucket): DataFrame =
    simhashPairsWithStats(df, idCol, textCol, maxHamming, maxBucket)._1

  def simhashPairsWithStats(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6, maxBucket: Int = Lsh.DefaultMaxBucket): (DataFrame, LshStats) =
    JobLabel(df.sparkSession, "dedup:simhash_pairs") {
      val withFp = df.select(col(idCol).as("doc"), simhash(col(textCol)).as("fp"))
      val bandKeys = array((0 until 4).map(b =>
        shiftright(col("fp"), b * 15).bitwiseAND(lit(32767L))): _*)
      val exploded = withFp.select(col("doc"), col("fp"),
        posexplode(bandKeys).as(Seq("band_idx", "band_key")))
      // see minhashLshPairsWithStats: cache + eager checkpoint ⇒ the SimHash
      // kernel runs once per document even when the cap census engages
      Lsh.withCappedBuckets(exploded, maxBucket, "simhashPairs") { capped =>
        val a = capped.select(col("doc").as("doc_a"), col("fp").as("fp_a"),
          col("band_idx"), col("band_key"))
        val b = capped.select(col("doc").as("doc_b"), col("fp").as("fp_b"),
          col("band_idx"), col("band_key"))
        a.join(b, Seq("band_idx", "band_key"))
          .filter(col("doc_a") < col("doc_b"))
          .dropDuplicates("doc_a", "doc_b")
          .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
          .filter(col("hamming") <= maxHamming)
          .select(col("doc_a"), col("doc_b"), col("hamming").cast(IntegerType).as("hamming"))
      }
    }

  /** Connected components over a near-dup pair list → (id, cluster) with
    * cluster = min id reachable. The step every dedup pipeline needs after
    * pair generation: A≈B and B≈C must collapse to ONE cluster even though
    * (A,C) was never emitted as a pair.
    *
    * Distributed min-label propagation: labels start one hop out (the
    * least of each vertex and its neighbours); each round ships every
    * label one hop (edges ⋈ labels, then a min-combine groupBy that also
    * carries the old label) and stops when no label changed. Rounds ≈
    * component diameter — for dedup graphs (cliques and short chains by
    * construction) a handful. `maxIter`
    * is the min-label round BUDGET, not a failure cap: a graph still
    * changing after `maxIter` rounds has a diameter the propagation shape
    * is wrong for, so the computation auto-switches to the
    * O(log²n)-round large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) and
    * converges there — a diameter-D chain costs min(D, maxIter) + O(log²n)
    * rounds instead of D. Both algorithms produce the identical
    * (id, cluster = min reachable id) labeling, so the switch is
    * invisible in results. Both run in one fixpoint loop: each round is one
    * eager `localCheckpoint` job that also observes the stop signal (the
    * count of changed labels), then the previous round's checkpoint is
    * released; only the last one stays pinned, under the result. Shuffles
    * carry only (id, label) pairs. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 10,
      driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    // The canonical (lo ≤ hi) DISTINCT edge list is built exactly ONCE
    // and shared by every path: the driver-gate probe, the distributed
    // min-label rounds, and the star-contraction fallback.
    val canon = pairs.select(least(col(aCol), col(bCol)).as("lo"),
      greatest(col(aCol), col(bCol)).as("hi")).distinct()
      .persist()
    try {
      // Size-gated driver fast path: verified near-dup pair lists are tiny
      // relative to the corpus they came from (sub-percent of docs pair
      // up; 1M canonical edges ≈ 16 MB of ids), and every distributed
      // round below costs join+groupBy+checkpoint latency regardless of
      // size. At or below the gate, collect the canonical edges once and
      // union-find on the driver — the result comes back as a
      // LocalRelation, which downstream keep-joins can broadcast without
      // a shuffle. Gated to id types whose driver-side ordering provably
      // matches the distributed min aggregate (numeric/string/temporal);
      // struct/array/binary ids fall through to the distributed path
      // instead of a mid-job ClassCastException.
      if (driverEdgeLimit > 0 && driverOrderable(canon.schema("lo").dataType)) {
        // cap+1 guard: never pulls more than the gate allows; clamp so a
        // Long.MaxValue gate cannot overflow limit()'s Int argument
        val cap = math.min(driverEdgeLimit, Int.MaxValue.toLong - 1L)
        val sample = JobLabel(pairs.sparkSession, "cc:driver") {
          canon.limit((cap + 1L).toInt).collect()
        }
        if (sample.length <= cap)
          return ccDriver(pairs.sparkSession, canon.schema, sample)
      }
      ccMinLabel(canon, maxIter).getOrElse {
        // diameter beyond the budget (a long chain, not the clique/short
        // chain shape dedup produces): star contraction, same canon edges
        log.info(s"connectedComponents: not converged in $maxIter " +
          "min-label rounds — switching to star contraction " +
          "(Kiveris et al., SoCC'14)")
        ccStarFromCanon(canon)
      }
    } finally canon.unpersist()
  }

  /** Distributed min-label propagation over a persisted canonical edge
    * list; `None` when it has not converged in `maxIter` rounds (see
    * [[connectedComponents]]). */
  private def ccMinLabel(canon: DataFrame, maxIter: Int): Option[DataFrame] = {
    // symmetrize WITHOUT another distinct: canon is already distinct on
    // (lo, hi), so the flipped copies are unique and disjoint from the
    // forward rows (strictly lo < hi there); self-loops stay single
    val half = canon.select(col("lo").as("src"), col("hi").as("dst"))
    val edges = half.union(
      canon.filter(col("lo") =!= col("hi"))
        .select(col("hi").as("src"), col("lo").as("dst")))
      // one shuffle up front so every round's edges⋈labels join reuses
      // this side's partitioning instead of re-exchanging the edge list
      .repartition(col("src")).persist()
    try {
      // one-hop labels; a null id (the (null, null) edge) never joins a
      // label, so it is no vertex
      val init = edges.filter(col("src").isNotNull).groupBy("src")
        .agg(least(col("src"), min(col("dst"))).as("lbl"))
        .select(col("src").as("id"), col("lbl"), (col("lbl") < col("src")).as("chg"))
      // each round ships every label one hop and min-combines; the old
      // label rides the same aggregate, so `chg` needs no join back
      def round(labels: DataFrame): DataFrame = {
        val msgs = edges.join(labels, edges("src") === labels("id"))
          .select(edges("dst").as("id"), col("lbl"), lit(false).as("own"))
        labels.select(col("id"), col("lbl"), lit(true).as("own")).union(msgs)
          .groupBy("id")
          .agg(min(col("lbl")).as("lbl"), min(when(col("own"), col("lbl"))).as("olbl"))
          .select(col("id"), col("lbl"), (col("lbl") < col("olbl")).as("chg"))
      }
      fixpoint("min_label", init, maxIter,
          coalesce(sum(col("chg").cast(LongType)), lit(0L)).as("changed"))(round)(
          (_, now) => now("changed") == 0L)
        .map(_.select(col("id"), col("lbl").as("cluster")))
    } finally edges.unpersist()
  }

  /** The one loop of the distributed CC algorithms: pins `init` (job label
    * `cc:canon`), then per round pins `step(previous)` (`cc:<algo>/round_<n>`)
    * and releases the previous pin. A pin is ONE eager `localCheckpoint`
    * carrying an `Observation` of `observed`, so `stop(previous, current)`
    * costs no job. `None`, with nothing left pinned, after `maxIter` rounds
    * without a stop. */
  private def fixpoint(algo: String, init: DataFrame, maxIter: Int, observed: Column*)(
      step: DataFrame => DataFrame)(
      stop: (Map[String, Any], Map[String, Any]) => Boolean): Option[DataFrame] = {
    def pin(df: DataFrame, label: String) = JobLabel(df.sparkSession, label) {
      val obs = Observation()
      val pinned = df.observe(obs, observed.head, observed.tail: _*).localCheckpoint()
      (pinned, obs.get)
    }
    var (cur, seen) = pin(init, "cc:canon")
    var round = 0
    var done = false
    while (!done && round < maxIter) {
      round += 1
      val (next, now) = pin(step(cur), s"cc:$algo/round_$round")
      release(cur)
      done = stop(seen, now)
      cur = next
      seen = now
    }
    if (done) Some(cur) else { release(cur); None }
  }

  /** Releases an eager `localCheckpoint`. `Dataset.unpersist` does not:
    * it drops cache-manager entries, and a local checkpoint is none — its
    * blocks belong to the checkpointed RDD under the `LogicalRDD` leaf. */
  private[operators] def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist()
      case p => throw new IllegalArgumentException(s"not a checkpoint: ${p.nodeName}")
    }

  /** Id types the driver union-find can order EXACTLY like the distributed
    * min aggregate: numerics, temporals, booleans (natural Comparable
    * order) and strings (compared as UTF8String — binary UTF-8 order, the
    * same order Spark's min uses; java.lang.String.compareTo is UTF-16
    * code-unit order and differs for supplementary characters). */
  private def driverOrderable(dt: DataType): Boolean = dt match {
    case _: NumericType | _: StringType | _: DateType | _: TimestampType |
         _: TimestampNTZType | _: BooleanType => true
    case _ => false
  }

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")

  /** Canonical-edge count at or below which connectedComponents collects
    * the pair list and union-finds on the driver (1M edges ≈ 16 MB of
    * long ids — far under any sane driver heap; the distributed path
    * takes over above it). */
  val DriverEdgeLimit: Long = 1000000L

  /** Driver union-find over a collected canonical edge list: path-halving
    * find + size-blind union, then per-component minimum (matching the
    * distributed contract cluster = min reachable id). Ordering is
    * type-aware so the elected representative is IDENTICAL to the
    * distributed min aggregate: strings compare as UTF8String (binary
    * UTF-8 — java.lang.String.compareTo is UTF-16 code-unit order and
    * disagrees for supplementary characters); everything else
    * [[driverOrderable]] admits is Comparable with matching order. A
    * (null, null) edge registers a single null vertex labeled null —
    * exactly what the distributed join (which never matches null keys)
    * produces. Returns a LocalRelation (id, cluster) that downstream
    * joins can broadcast. */
  private def ccDriver(spark: org.apache.spark.sql.SparkSession,
      schema: StructType, edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    val idType = schema("lo").dataType
    val lt: (Any, Any) => Boolean = idType match {
      case _: StringType => (a, b) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
          .compareTo(org.apache.spark.unsafe.types.UTF8String
            .fromString(b.asInstanceOf[String])) < 0
      case _ => (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    val idx = new java.util.HashMap[Any, Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[Any]()
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    def intern(v: Any): Int = {
      val e = idx.get(v)
      if (e != null) e.intValue()
      else { idx.put(v, ids.length); ids += v; parent += ids.length - 1; ids.length - 1 }
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    edges.foreach { r =>
      val (va, vb) = (r.get(0), r.get(1))
      if (va == null || vb == null) {
        // canonical least/greatest only yields a null endpoint when BOTH
        // raw endpoints were null. The distributed path drops a null
        // vertex (null never survives its label equi-joins), so the
        // driver registers nothing either — both paths agree.
        if (va != null) intern(va)
        if (vb != null) intern(vb)
      } else {
        val a = find(intern(va))
        val b = find(intern(vb))
        if (a != b) parent(a) = b
      }
    }
    // per-component minimum id (the distributed contract)
    val minOf = new java.util.HashMap[Integer, Any]()
    var i = 0
    while (i < ids.length) {
      val root = find(i)
      val cur = minOf.get(root)
      if (cur == null || lt(ids(i), cur)) minOf.put(root, ids(i))
      i += 1
    }
    val outSchema = StructType(Seq(
      StructField("id", idType, nullable = false),
      StructField("cluster", idType, nullable = false)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
    i = 0
    while (i < ids.length) {
      rows.add(org.apache.spark.sql.Row(ids(i), minOf.get(find(i))))
      i += 1
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
    * Components in MapReduce and Beyond", SoCC'14): converges in O(log² n)
    * rounds regardless of component diameter, where min-label propagation
    * needs diameter-many rounds. Each round is two groupBy-join passes over
    * the (canonical min-first) edge list; shuffles carry id pairs only.
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ {u});
    *  - small-star(u): every neighbor v ≤ u (and u itself) re-attaches
    *    to m.
    *
    * At the fixpoint the edge set is a star forest rooted at each
    * component's minimum id — the same (id, cluster=min-reachable-id)
    * contract as [[connectedComponents]], in its fixpoint loop: each
    * round's checkpoint observes an exact (count, xor-of-hashes) signature
    * of the edge set, and the loop stops when two rounds' signatures agree. */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 100): DataFrame =
    ccStarFromCanon(pairs.select(
      least(col(aCol), col(bCol)).as("lo"),
      greatest(col(aCol), col(bCol)).as("hi")).distinct(), maxIter)

  /** Star contraction over an already-canonical (lo ≤ hi, distinct) edge
    * list — shared with [[ccMinLabel]]'s fallback so the switch reuses the
    * persisted canonical edges instead of recomputing them from the raw
    * pair plan. */
  private def ccStarFromCanon(canon: DataFrame, maxIter: Int = 100): DataFrame = {
    // self-loops dropped (canon is already distinct): star contraction
    // labels only vertices with at least one real edge — the same
    // contract this algorithm has always had
    val init = canon.filter(col("lo") =!= col("hi"))
    // every input vertex, for the final labeling (a star root keeps itself;
    // vertices of a 2-clique survive as one edge, so none are dropped)
    def minTo(sym: DataFrame): DataFrame =
      sym.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))

    // Each star step hash-partitions the symmetrized edge list by u ONCE:
    // the min-neighbor aggregation and the re-attachment join both
    // require exactly that clustering, so the round runs with a single
    // edge shuffle (+ the output distinct) instead of re-exchanging for
    // the groupBy and again for the join — and the two consumers read one
    // ReusedExchange. At scale a star round is two such steps, so this
    // halves the per-round exchange count of the high-diameter CC path.
    def largeStar(ed: DataFrame): DataFrame = {
      val sym = ed.select(col("lo").as("u"), col("hi").as("v"))
        .union(ed.select(col("hi").as("u"), col("lo").as("v")))
        .repartition(col("u"))
      sym.join(minTo(sym), "u")
        .filter(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi"))
        .filter(col("lo") =!= col("hi")).distinct()
    }
    def smallStar(ed: DataFrame): DataFrame = {
      val sym = ed.select(col("lo").as("u"), col("hi").as("v"))
        .union(ed.select(col("hi").as("u"), col("lo").as("v")))
        .repartition(col("u"))
      val m = minTo(sym)
      val reattach = sym.join(m, "u")
        .filter(col("v") <= col("u"))
        .select(col("m").as("lo"), col("v").as("hi"))
      val self = m.select(col("m").as("lo"), col("u").as("hi"))
      reattach.union(self)
        .filter(col("lo") =!= col("hi")).distinct()
    }

    val fixed = fixpoint("star", init, maxIter, count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(lo, hi))"), lit(0L)).as("h"))(
      ed => smallStar(largeStar(ed)))(_ == _)
    require(fixed.isDefined,
      s"connectedComponentsStar did not converge in $maxIter rounds — " +
        "this exceeds the O(log²n) bound and indicates a logic error, " +
        "not an input property")
    val edges = fixed.get
    // star forest: (lo=root, hi=member); roots label themselves
    edges.select(col("hi").as("id"), col("lo").as("cluster"))
      .union(edges.select(col("lo").as("id"), col("lo").as("cluster")))
      .distinct()
  }

  /** One-row-per-cluster canonicalization: keep the minimum id of each
    * near-dup cluster, pass rows with no pair through untouched. */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    // unambiguous internal names: the caller's frame may itself have
    // columns named id/cluster (drop-by-name would destroy them)
    val clusters = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("__cc_id"), col("cluster").as("__cc_cluster"))
    df.join(clusters, df(idCol) === col("__cc_id"), "left")
      .filter(col("__cc_cluster").isNull || col("__cc_cluster") === df(idCol))
      .drop("__cc_id", "__cc_cluster")
  }

  /** C4-style corpus-level exact keep-first dedup: keep only the FIRST
    * occurrence (minimum of `ordCols`, compared lexicographically) of
    * every distinct `keyCol` value, drop all later copies. C4 applied
    * this at the line level with "first" = corpus position; here key and
    * order are caller-chosen (e.g. key = md5 of normalized turn text,
    * order = (conv_id, turn_idx)).
    *
    * Scale shape: ONE read of the input — `min(struct(ordCols)) OVER
    * (PARTITION BY key)` then a filter, so one exchange of the input rows
    * on the key and no join-back (a group-then-join form consumes its
    * input twice and re-runs whatever computed it). A null key forms its
    * own group like any other value (window partitioning groups nulls).
    * Deterministic for total `ordCols` orderings (ties keep every tied
    * row). */
  def keepFirst(df: DataFrame, keyCol: Column, ordCols: Seq[Column]): DataFrame = {
    val ord = struct(ordCols: _*)
    df.withColumn("__kf_min", min(ord).over(Window.partitionBy(keyCol)))
      .filter(ord === col("__kf_min"))
      .drop("__kf_min")
  }

  /** Benchmark decontamination: flag corpus documents that share at least
    * one word n-gram shingle with any benchmark document (the published
    * GPT-3 appendix-C / PaLM held-out-overlap filter, recast as a
    * broadcast semi-join). Returns one row per contaminated document:
    * (idCol, n_hits) where n_hits counts the document's DISTINCT shingles
    * that occur anywhere in the benchmark.
    *
    * Scale shape: the benchmark shingle dictionary is deduped and (by
    * default) broadcast — benchmarks are MBs while corpora are TBs, so the
    * corpus side streams through a map-side broadcast semi-join with NO
    * corpus shuffle before the tiny contaminated-ids aggregation. With
    * `broadcastHint = false` the join shuffles (shingle-md5, id) postings
    * only — never document text. Unlike the near-dup paths there is NO
    * frequency pruning: dropping a hot shingle could hide real
    * contamination, so this path is exact by construction. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      broadcastHint: Boolean = true): DataFrame = {
    import graft.functions.MinHashSig
    // shingles_native emits the DISTINCT shingle set per document, so the
    // per-doc posting rows are already unique and count(*) below counts
    // distinct contaminated shingles. explode_OUTER: see ngramJaccardPairs
    // — plain explode lets the optimizer infer size(shingles(text)) > 0
    // and run the shingle kernel twice per row; the kernel never yields
    // an empty array, so the row set is identical.
    val corpusPost = corpus.select(col(idCol).as("__cid"),
        explode_outer(MinHashSig.shingles_native(col(textCol), n)).as("__s"))
      .select(col("__cid"), md5(col("__s")).as("sh_hash"))
    val benchSh = benchmark
      .select(explode_outer(MinHashSig.shingles_native(col(textCol), n)).as("__s"))
      .select(md5(col("__s")).as("sh_hash")).distinct()
    val dict = if (broadcastHint) broadcast(benchSh) else benchSh
    corpusPost.join(dict, Seq("sh_hash"), "left_semi")
      .groupBy("__cid")
      .agg(count(lit(1)).as("n_hits"))
      .withColumnRenamed("__cid", idCol)
  }

  /** Corpus boilerplate census: the `k` word n-gram shingles occurring in
    * the most DOCUMENTS (shingles_native emits each document's distinct
    * shingle set, so the count is document frequency, not term frequency).
    * This is the measurement that tunes the stop-shingle / hot-bucket caps
    * (Lsh.DefaultMaxDf): a deployment runs the census once per corpus and
    * sets the cap above the legitimate-boilerplate knee instead of
    * guessing. Ties break on the gram text so the top-k is deterministic.
    *
    * Scale shape: map-side explode feeding a partial-aggregated groupBy
    * (the shuffle carries (gram, partial count), combined map-side), then
    * a global top-k that Catalyst executes as TakeOrderedAndProject —
    * per-partition heaps of size k, never a full sort. */
  def ngramDocFreqTopK(df: DataFrame, textCol: String, n: Int = 3,
      k: Int = 25): DataFrame =
    // explode_outer: avoids the optimizer's size>0 filter double-running
    // the shingle kernel (see ngramJaccardPairs); the kernel never emits
    // an empty array, so the gram rows are identical
    df.select(explode_outer(
        graft.functions.MinHashSig.shingles_native(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("gram")).limit(k)

  /** Drop contaminated documents (see decontaminate): anti-join the
    * corpus on the contaminated-id set. `broadcastHint` governs BOTH the
    * shingle-dictionary join inside decontaminate and the id anti-join
    * here: contamination is normally rare (ids ≪ corpus, broadcast is
    * right), but a heavily contaminated corpus or a huge benchmark union
    * can exceed the broadcast limit — pass false and both joins fall back
    * to shuffles that carry only (hash, id) pairs, never text. */
  def removeContaminated(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      broadcastHint: Boolean = true): DataFrame = {
    val hits = decontaminate(corpus, benchmark, idCol, textCol, n, broadcastHint)
      .select(col(idCol).as("__hit_id"))
    val hinted = if (broadcastHint) broadcast(hits) else hits
    corpus.join(hinted, corpus(idCol) === col("__hit_id"), "left_anti")
  }
}
