package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}
import graft.functions.TextFunctions

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("exact dedup groups identical normalized text") {
    val d = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other text"))
      .toDF("doc_id", "text")
    val r = Dedup.exactDedup(d, "text", "doc_id").orderBy("keep_id").collect()
    assert(r.map(x => (x.getLong(1), x.getLong(2))).toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds near-dups, rejects unrelated") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val d = Seq(
      (1L, base), (2L, base + " tail"),
      (3L, "one two three four five six seven eight nine ten " * 3))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", 12, 4, 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs.head.getDouble(2) > 0.8)
  }

  test("native MinHashBands ≡ md5 of '|'-joined signature slices") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sig = graft.functions.MinHashSig.minhash_sig(col("text"), 12)
    val columnBands = array((0 until 4).map(b =>
      md5(concat_ws("|", (0 until 3).map(r =>
        element_at(sig, b * 3 + r + 1)): _*))): _*)
    val a = d.select(col("doc_id"),
      graft.functions.MinHashSig.minhash_bands(col("text"), 12, 4).as("bk"))
    val b = d.select(col("doc_id"), columnBands.as("bk"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("LSH hot-bucket cap drops boilerplate buckets and reports stats") {
    // 60 identical boilerplate docs (one giant bucket) + one true near-dup
    // pair of distinct text: the cap must drop the boilerplate candidates
    // but keep the distinct pair.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val boiler = (100L until 160L).map(i => (i, "spam spam wonderful spam " * 5))
    val d = (Seq((1L, base), (2L, base + " tail")) ++ boiler).toDF("doc_id", "text")
    val (pairs, stats) =
      Dedup.minhashLshPairsWithStats(d, "doc_id", "text", 12, 4, 0.5, maxBucket = 10)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
    assert(stats.droppedBuckets > 0 && stats.droppedRows >= 60)
    // exhaustive (cap disabled) finds the boilerplate clique too
    val all = Dedup.minhashLshPairs(d, "doc_id", "text", 12, 4, 0.5,
      maxBucket = Int.MaxValue).collect()
    assert(all.length > 1000) // 60*59/2 boilerplate pairs + the planted one
    // simhash path shares the cap
    val (spairs, sstats) =
      Dedup.simhashPairsWithStats(d, "doc_id", "text", 6, maxBucket = 10)
    assert(sstats.droppedRows >= 60)
    assert(!spairs.collect().exists(r => r.getLong(0) >= 100L))
  }

  test("skew cap is ON BY DEFAULT: a planted >10k-duplicate key is dropped") {
    // the naive call must not be the quadratic one: 10_001 identical
    // boilerplate docs exceed Lsh.DefaultMaxBucket (10_000), so the
    // default entry point drops that bucket (≈5·10⁷ candidate pairs
    // never generated) while a genuine distinct near-dup pair survives
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val boiler = spark.range(100L, 100L + 10001L)
      .select(col("id").as("doc_id"),
        lit("spam spam wonderful spam eggs bacon and spam again").as("text"))
    val d = Seq((1L, base), (2L, base + " tail")).toDF("doc_id", "text")
      .unionByName(boiler)
    val (pairs, stats) = Dedup.minhashLshPairsWithStats(d, "doc_id", "text")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
    assert(stats.droppedBuckets == 4L) // 4 bands, one hot key each
    assert(stats.droppedRows == 4L * 10001L)
  }

  test("ngram-Jaccard pairs: inverted index finds what minhash finds, maxDf prunes") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val boiler = (100L until 140L).map(i => (i, "spam spam wonderful spam " * 5))
    val d = (Seq((1L, base), (2L, base + " tail")) ++ boiler).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(d, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)))
    assert(got.size > 700) // boilerplate clique found without pruning
    // stop-shingle pruning drops the boilerplate candidates, keeps the pair
    val pruned = Dedup.ngramJaccardPairs(d, "doc_id", "text", 0.5, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == Set((1L, 2L)))
  }

  test("native MinHashSig ≡ Column-formulation signature") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = d.select(col("doc_id"),
      graft.functions.MinHashSig.minhash_sig(col("text"), 12).as("sig"))
    val b = d.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.shingles(col("text")), 12).as("sig"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("native Shingles ≡ Column-formulation shingles") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200)
    val a = d.select(col("doc_id"),
      graft.functions.MinHashSig.shingles_native(col("text")).as("sh"))
    val b = d.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("simhash: identical text → identical fp; near text → small hamming") {
    val d = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    val fp = d.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(2L)) < ham(fp(1L), fp(3L)))
  }

  test("LSH top-k ⊆ brute-force ranking within bucket") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") % 100 === 0)
    val brute = Similarity.bruteForceTopK(e, q, 50).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.lshTopK(e, q, 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(lsh.nonEmpty)
    // every LSH neighbor is a real vector pair; rank order is by cosine desc
    val byQ = Similarity.lshTopK(e, q, 3).collect()
      .groupBy(_.getLong(0)).values
    byQ.foreach { rows =>
      val coss = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(coss.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
    assert(brute.nonEmpty)
  }

  test("native dot product ≡ zip_with/aggregate fold, bit-for-bit") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = e.toDF("ia", "va", "la").crossJoin(e.limit(3).toDF("ib", "vb", "lb"))
    val a = pairs.select(col("ia"), col("ib"),
      Similarity.dot(col("va"), col("vb")).as("d"))
    val b = pairs.select(col("ia"), col("ib"),
      Similarity.dotColumnForm(col("va"), col("vb")).as("d"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("zero-norm vectors (NaN cosine) never rank or pair") {
    val d = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.1f)),
      (3L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val topk = Similarity.bruteForceTopK(d, d.filter(col("vec_id") === 1L), 2)
      .collect().map(_.getLong(2)).toSet
    assert(!topk.contains(3L), "NaN cosine must not displace real neighbors")
    val pairs = Similarity.embeddingNearDupPairs(d, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(pairs.contains((1L, 2L)))
    // IVF path: zero-norm corpus AND query vectors must be null-filtered
    // (try_divide), not crash the job under ANSI division
    val ivf = Similarity.ivfTopK(d,
      queries = d.filter(col("vec_id") >= 2L),
      centroids = d.filter(col("vec_id") === 1L), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(!ivf.exists(_._2 == 3L), "zero-norm corpus vector must not rank")
    assert(!ivf.exists(_._1 == 3L), "zero-norm query yields no ranked rows")
    assert(ivf.contains((2L, 1L)))
  }

  test("dot product rejects non-float arrays at analysis time") {
    val d = Seq((1L, Array(1L, 2L))).toDF("id", "v")
    val ex = intercept[Exception] {
      d.select(Similarity.dot(col("v"), col("v"))).collect()
    }
    assert(ex.getMessage.contains("dot_product") ||
      ex.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("cosine of identical vectors ≈ 1, orthogonal = 0") {
    val d = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(d, 0.99).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 3L)))
  }

  test("langid votes and fingerprint determinism") {
    val d = Seq((1L, "the table of value and row"), (2L, "el la de que y"),
      (3L, "der die das und nicht"), (4L, "xyzzy plugh")).toDF("id", "text")
    val r = d.select(col("id"), TextFunctions.langId(col("text"))).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "unknown"))
    val f1 = d.select(TextFunctions.fingerprint(col("text"))).collect().map(_.getLong(0)).toSeq
    val f2 = d.select(TextFunctions.fingerprint(col("text"))).collect().map(_.getLong(0)).toSeq
    assert(f1 == f2)
    assert(f1.distinct.size == 4)
  }

  test("connectedComponents: chains collapse to one cluster, min-id label") {
    // chain 1-2-3-4 (pairwise edges only between neighbors), clique {10,11},
    // isolated edge {20,21}: transitivity must label 4 with 1
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    // iteration cap no longer fails: a chain exceeding the min-label
    // budget falls back to star contraction and still converges
    // (driverEdgeLimit = 0 forces the distributed path under test)
    val chain = Dedup.connectedComponents(
      (1L to 8L).sliding(2).map(s => (s.head, s(1))).toSeq
        .toDF("doc_a", "doc_b"), "doc_a", "doc_b", maxIter = 1,
      driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chain == (1L to 8L).map(_ -> 1L).toMap)
  }

  test("CC distributed path: diameter-100 chain converges via the auto-switch") {
    // 101-node path, diameter 100: the distributed call must not spin 50+
    // min-label rounds — after the (default 10-round) budget it switches
    // to star contraction and still produces the exact min-id labeling
    val path = spark.range(1L, 101L)
      .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
    val got = Dedup.connectedComponents(path, "doc_a", "doc_b",
        driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 101)
    assert(got.values.forall(_ == 1L))
    // and the default size-gated driver fast path agrees exactly
    val gotDriver = Dedup.connectedComponents(path, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDriver == got)
  }

  test("CC driver gate: duplicate/reversed pairs, self-loops, string ids") {
    // the gate counts DISTINCT canonical edges; duplicates and reversed
    // copies collapse, self-loops register their vertex
    val pairs = Seq((3L, 7L), (7L, 3L), (3L, 7L), (9L, 9L), (1L, 2L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 7L -> 3L, 9L -> 9L))
    // non-numeric ids use the same natural ordering as the distributed min
    val sp = Seq(("b", "c"), ("a", "b")).toDF("doc_a", "doc_b")
    val gotS = Dedup.connectedComponents(sp, "doc_a", "doc_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val gotSDist = Dedup.connectedComponents(sp, "doc_a", "doc_b",
        driverEdgeLimit = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gotS == Map("a" -> "a", "b" -> "a", "c" -> "a"))
    assert(gotS == gotSDist)
  }

  test("ngramJaccard: fused count-verification — one posting shuffle, kernel once per doc") {
    // round-6 shape: the posting table is hash-partitioned by shingle
    // ONCE and the self-join reuses that single exchange — the shingle
    // kernel must run exactly once per document and the plan must carry
    // exactly one posting-side shuffle (plus the pair-aggregation one)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = d.count()
    graft.functions.MinHashSig.shingleCalls.reset()
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", 0.5,
      maxDf = Int.MaxValue)
    pairs.collect() // collect() executes THIS queryExecution (count() would plan its own)
    val calls = graft.functions.MinHashSig.shingleCalls.sum()
    assert(calls == n,
      s"shingle kernel ran $calls times for $n docs — the posting " +
        "self-join must reuse one exchange (rename ABOVE the repartition)")
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage") ||
      plan.contains("reused"), s"no exchange reuse in plan:\n$plan")
    // verification is fused: no array_intersect, no shingle-array join-back
    assert(!plan.contains("array_intersect"),
      "jaccard must come from the fused pair count, not array_intersect")
  }

  test("ngramJaccard fused jaccard ≡ array_intersect formulation, bit-for-bit") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .unionByName(Seq(
        (9001L, ""), (9002L, "one two"), (9003L, null.asInstanceOf[String]))
        .toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("srcx"))
        .withColumn("n_chars", lit(0L)))
    val got = Dedup.ngramJaccardPairs(d, "doc_id", "text", 0.1,
      maxDf = Int.MaxValue)
    // reference: the round-5 array_intersect verification, inline
    val sh = d.select(col("doc_id"),
      graft.functions.MinHashSig.shingles_native(col("text")).as("sh"))
    val ref = sh.toDF("doc_a", "sh_a").crossJoin(sh.toDF("doc_b", "sh_b"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b")))
        .cast(org.apache.spark.sql.types.DoubleType))
      .filter(col("__i") > 0)
      .withColumn("jaccard", col("__i") /
        ((size(col("sh_a")) + size(col("sh_b")))
          .cast(org.apache.spark.sql.types.DoubleType) - col("__i")))
      .filter(col("jaccard") >= 0.1)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
  }

  test("CC driver gate: Long.MaxValue edge limit must not overflow limit()") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        driverEdgeLimit = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("CC driver gate: non-ASCII string ids order like the distributed min") {
    // U+FFFF (BMP, 3-byte UTF-8) vs U+10000 (supplementary, surrogate pair
    // in UTF-16, 4-byte UTF-8): UTF-16 code-unit order says ￿ >
    // 𐀀, binary UTF-8 says the opposite — the driver path must
    // use the UTF8String (binary) order the distributed min aggregate uses
    val hi = "￿"         // U+FFFF
    val supp = "𐀀" // U+10000
    val pairs = Seq((hi, supp)).toDF("doc_a", "doc_b")
    val d = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        driverEdgeLimit = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d == dist, s"driver $d != distributed $dist")
    assert(d.values.toSet == Set(hi), // U+FFFF is SMALLER in binary UTF-8
      s"representative must follow UTF8String order, got $d")
  }

  test("CC driver gate: struct ids fall through to the distributed path") {
    val pairs = Seq(((1L, 2L), (3L, 4L)), ((3L, 4L), (5L, 6L)))
      .toDF("doc_a", "doc_b")
    // must not ClassCastException — the gate detects the non-orderable id
    // type and runs distributed CC instead
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b").collect()
    assert(got.length == 3)
    val clusters = got.map(_.getStruct(1)).distinct
    assert(clusters.length == 1 && clusters.head.getLong(0) == 1L)
  }

  test("CC: null endpoints never union; both paths agree") {
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
      (null, 7L), (7L, 8L), (null, null))
      .toDF("doc_a", "doc_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (if (r.isNullAt(0)) null else r.getLong(0)) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    val d = toMap(Dedup.connectedComponents(pairs, "doc_a", "doc_b"))
    val dist = toMap(Dedup.connectedComponents(pairs, "doc_a", "doc_b",
      driverEdgeLimit = 0))
    assert(d == dist, s"driver $d != distributed $dist")
    // (null, 7) canonicalizes to the self-loop (7,7): 7 and 8 still
    // union; the null vertex is dropped by BOTH paths (the distributed
    // label equi-joins never match null)
    assert(d == Map(7L -> 7L, 8L -> 7L))
  }

  test("star-contraction CC: long path graph converges in O(log n) rounds") {
    // a 500-node path has diameter 499 — min-label would need 499 rounds;
    // star contraction must close it directly
    val n = 500L
    val path = spark.range(1L, n)
      .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
    val got = Dedup.connectedComponentsStar(path, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    assert(got.values.forall(_ == 1L))
    // and agrees with min-label on the multi-component clique/chain mix
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L),
      (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val a = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("dedupByPairs keeps one representative per cluster") {
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val kept = Dedup.dedupByPairs(docs, "doc_id", pairs, "doc_a", "doc_b")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L))
    // caller columns literally named id/cluster must survive untouched
    val docs2 = (1L to 3L).map(i => (i, s"c$i")).toDF("id", "cluster")
    val out = Dedup.dedupByPairs(docs2, "id",
      Seq((1L, 2L)).toDF("doc_a", "doc_b"), "doc_a", "doc_b")
    assert(out.columns.toSeq == Seq("id", "cluster"))
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L))
  }

  test("native SimHashSig ≡ the Column formulation (bit-exact)") {
    // real corpus + adversarial shapes: empty, whitespace-only, single
    // token, unicode case, heavy repetition (majority ties)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((9001L, ""), (9002L, "   "), (9003L, "one"),
        (9004L, "ÅÄÖ Straße İ"), (9005L, ("a b " * 7) + "c"),
        (9006L, null.asInstanceOf[String]),
        (9007L, "\u0001ctrl edge\u0002"))
        .toDF("doc_id", "text"))
    val a = d.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
    val b = d.select(col("doc_id"),
      Dedup.simhashColumnForm(col("text")).as("fp"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("LSH cap census evaluates the band/fingerprint kernel ONCE per doc") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val boiler = (100L until 160L).map(i => (i, "spam spam wonderful spam " * 5))
    val d = (Seq((1L, base), (2L, base + " tail")) ++ boiler)
      .toDF("doc_id", "text").repartition(4)
    val n = d.count()

    graft.functions.MinHashSig.bandsCalls.reset()
    val (pairs, stats) =
      Dedup.minhashLshPairsWithStats(d, "doc_id", "text", 12, 4, 0.5, maxBucket = 10)
    pairs.count() // materialize the verify stage too
    assert(stats.droppedBuckets > 0) // the census actually engaged
    assert(graft.functions.MinHashSig.bandsCalls.sum() == n,
      s"minhash band kernel ran ${graft.functions.MinHashSig.bandsCalls.sum()} " +
        s"times for $n docs — census/anti-join must reuse the cached projection")

    graft.functions.SimHashCore.calls.reset()
    val (spairs, sstats) =
      Dedup.simhashPairsWithStats(d, "doc_id", "text", 6, maxBucket = 10)
    spairs.count()
    assert(sstats.droppedBuckets > 0)
    assert(graft.functions.SimHashCore.calls.sum() == n,
      s"simhash kernel ran ${graft.functions.SimHashCore.calls.sum()} " +
        s"times for $n docs")

    // the EXHAUSTIVE path (maxBucket = ∞) is cached too: its candidate
    // SELF-join would otherwise run the kernel once per join side
    graft.functions.MinHashSig.bandsCalls.reset()
    Dedup.minhashLshPairs(d, "doc_id", "text", 12, 4, 0.5,
      maxBucket = Int.MaxValue).count()
    assert(graft.functions.MinHashSig.bandsCalls.sum() == n,
      s"exhaustive path ran the band kernel " +
        s"${graft.functions.MinHashSig.bandsCalls.sum()} times for $n docs")
  }

  test("keepFirst keeps the lexicographically-minimum occurrence per key") {
    val d = Seq(
      ("c1", 0, "x"), ("c1", 1, "y"), ("c2", 0, "x"), ("c2", 1, "z"),
      ("c0", 5, "x"))
      .toDF("conv", "idx", "t")
    val kept = Dedup.keepFirst(d, col("t"), Seq(col("conv"), col("idx")))
      .select("conv", "idx", "t").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    // "x" first at (c0,5): conv ranks before idx in the order tuple
    assert(kept == Set(("c0", 5, "x"), ("c1", 1, "y"), ("c2", 1, "z")))
  }

  test("keepFirst: null keys form their own group (null-safe join)") {
    val d = Seq(("a", 0, Some("k")), ("b", 1, None), ("c", 2, None))
      .toDF("id", "ord", "key")
    val kept = Dedup.keepFirst(d, col("key"), Seq(col("ord")))
      .select("id").as[String].collect().toSet
    // first null-key row survives; an equi-join would drop b AND c
    assert(kept == Set("a", "b"))
  }

  test("keepFirst one-read window form ≡ the group-then-join form, row for row " +
      "(sf0.001 turns, tied order keys, null keys)") {
    import org.apache.spark.sql.{Column, DataFrame}
    // the previous formulation: group by key, join back null-safely
    def joinForm(df: DataFrame, keyCol: Column, ordCols: Seq[Column]): DataFrame = {
      val keyed = df.withColumn("__kf_key", keyCol)
      val firsts = keyed.groupBy(col("__kf_key"))
        .agg(min(struct(ordCols: _*)).as("__kf_min"))
        .withColumnRenamed("__kf_key", "__kf_fkey")
      keyed.join(firsts, col("__kf_key") <=> col("__kf_fkey"))
        .filter(struct(ordCols: _*) === col("__kf_min"))
        .drop("__kf_key", "__kf_fkey", "__kf_min")
    }
    val t = graft.transcripts.Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
      .select("conv_id", "turn_idx", "role", "text")
    // every 7th turn has a null key: the nulls form ONE group
    val key = when(col("turn_idx") % 7 =!= 0,
      md5(TextFunctions.normText(col("text"))))
    val orders = Seq(
      "total" -> Seq(col("conv_id"), col("turn_idx")),
      "tied" -> Seq(col("role")))
    orders.foreach { case (name, ord) =>
      val a = Dedup.keepFirst(t, key, ord)
      val b = joinForm(t, key, ord)
      assert(a.count() == b.count(), name)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, name)
      assert(a.filter(col("turn_idx") % 7 === 0).count() >= 1, name)
    }
    val tied = Dedup.keepFirst(t, key, Seq(col("role")))
    // ties: a key group keeps every row tied on the minimum order value
    assert(tied.groupBy(key.as("k")).count().filter(col("count") > 1).count() > 0,
      "no tied key group kept > 1 row")
    // nulls: one group, so only null-key rows of its minimum role survive
    assert(tied.filter(col("turn_idx") % 7 === 0).select("role").distinct().count() == 1)
  }

  test("decontaminate plan: broadcast left-semi join, scan pruned to id+text") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Dedup.decontaminate(
        d.filter(col("doc_id") % 37 =!= 0), d.filter(col("doc_id") % 37 === 0),
        "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected a broadcast left-semi join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "corpus side must not sort-shuffle")
    // the corpus scan reads only the id and text columns
    assert(plan.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("doc_id") && l.contains("text") &&
        !l.contains("source") && !l.contains("n_chars")), s"unpruned scan:\n$plan")
  }

  test("decontaminate flags n-gram overlap with the benchmark, exactly") {
    val benchmark = Seq(
      (100L, "alpha beta gamma delta"),
      (101L, "tiny doc")) // < 3 words → whole-norm shingle
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix alpha beta gamma suffix words here"), // shares 1 shingle
      (2L, "completely different content about other things entirely"),
      (3L, "Tiny  DOC"), // whole-norm match after normalization
      (4L, "alpha beta gamma delta echo foxtrot")) // shares 2 shingles
      .toDF("doc_id", "text")
    val hits = Dedup.decontaminate(corpus, benchmark, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 1L, 3L -> 1L, 4L -> 2L))
    val kept = Dedup.removeContaminated(corpus, benchmark, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
    // broadcastHint = false (for heavily contaminated corpora that exceed
    // the broadcast limit) must agree exactly and must not FORCE a
    // broadcast — no hint in the plan; Catalyst stays free to pick one
    // from size statistics, which is the point of making it a hint
    val keptShuffle = Dedup.removeContaminated(corpus, benchmark,
      "doc_id", "text", broadcastHint = false)
    assert(keptShuffle.select("doc_id").as[Long].collect().toSet == Set(2L))
    assert(!keptShuffle.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "broadcastHint=false must leave no broadcast hint in the plan")
    val keptHinted = Dedup.removeContaminated(corpus, benchmark, "doc_id", "text")
    assert(keptHinted.queryExecution.analyzed.toString.contains("ResolvedHint"))
  }

  test("verification evaluates shingles only for candidate docs, once each") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    // 20 filler docs with fully disjoint vocabularies: they share no
    // shingle (hence no band key) with anything, so they never become
    // candidates and their shingle sets must never be computed
    val others = (10L until 30L).map(i =>
      (i, s"u$i v$i w$i x$i y$i z$i p$i q$i r$i s$i " * 3))
    val d = (Seq((1L, base), (2L, base + " tail")) ++ others)
      .toDF("doc_id", "text").repartition(4)
    graft.functions.MinHashSig.shingleCalls.reset()
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", 12, 4, 0.5)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L)))
    val calls = graft.functions.MinHashSig.shingleCalls.sum()
    assert(calls == 2,
      s"shingle kernel ran $calls times — verification must evaluate only " +
        "the 2 candidate docs' shingle sets (semi-join prefilter + cache)")
  }

  /** minhashLshPairsWithStats at its defaults as it was when the broadcast
    * gate took the candidate count from a `count()` job of its own. */
  private def minhashPairsCountForm(df: org.apache.spark.sql.DataFrame) = {
    import graft.functions.MinHashSig
    import graft.operators.Lsh
    val exploded = df.select(col("doc_id").as("doc"),
      posexplode(MinHashSig.minhash_bands(col("text"), 12, 4)).as(Seq("band_idx", "band_key")))
    val (cand, _) = Lsh.withCappedBuckets(exploded, Lsh.DefaultMaxBucket) { capped =>
      val a = capped.select(col("doc").as("doc_a"), col("band_idx"), col("band_key"))
      val b = capped.select(col("doc").as("doc_b"), col("band_idx"), col("band_key"))
      a.join(b, Seq("band_idx", "band_key")).filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
    }
    val candIds = cand.select(col("doc_a").as("__sid"))
      .union(cand.select(col("doc_b").as("__sid"))).distinct()
    val ids = if (2L * cand.count() <= Dedup.BroadcastIdLimit) broadcast(candIds) else candIds
    val sh = df.select(col("doc_id").as("__sid"),
        MinHashSig.shingles_native(col("text")).as("__sh"))
      .join(ids, Seq("__sid"), "left_semi")
    cand.join(sh.select(col("__sid").as("doc_a"), col("__sh").as("sh_a")), "doc_a")
      .join(sh.select(col("__sid").as("doc_b"), col("__sh").as("sh_b")), "doc_b")
      .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("__i") / ((size(col("sh_a")) + size(col("sh_b"))).cast("double") - col("__i")))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
  }

  private def sf0001Docs =
    spark.read.parquet(s"${sys.props("user.home")}/testdata/sf0.001/documents.parquet")

  /** sf0.001's documents plus a near-duplicate of every 50th one. */
  private lazy val plantedDocs = {
    val d = sf0001Docs
    d.unionByName(d.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" extra tail words"))))
  }

  test("minhash candidate count rides the checkpoint: two jobs fewer, same pairs") {
    val d = sf0001Docs
    var pairs: org.apache.spark.sql.DataFrame = null
    val jobs = JobCapture(spark.sparkContext) {
      pairs = Dedup.minhashLshPairsWithStats(d, "doc_id", "text")._1
    }
    // 15 with the count() job (an AQE count stage plus its result job)
    assert(jobs.size == 13, jobs)
    val p = plantedDocs
    val got = Dedup.minhashLshPairsWithStats(p, "doc_id", "text")._1
    val want = minhashPairsCountForm(p)
    assert(got.count() >= 10)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(pairs.exceptAll(minhashPairsCountForm(d)).isEmpty &&
      minhashPairsCountForm(d).exceptAll(pairs).isEmpty)
  }

  test("every dedup and CC job carries a dedup: or cc: label; the caller's " +
      "description is restored") {
    val sc = spark.sparkContext
    val p = plantedDocs
    p.schema // schema inference outside the capture
    sc.setJobDescription("caller")
    try {
      val jobs = JobCapture(sc) {
        val pairs = Dedup.minhashLshPairsWithStats(p, "doc_id", "text")._1
        Dedup.connectedComponents(pairs, "doc_a", "doc_b", driverEdgeLimit = 0)
        assert(sc.getLocalProperty("spark.job.description") == "caller")
      }.map(_.description)
      assert(jobs.nonEmpty)
      assert(jobs.forall(j => j != null && (j.startsWith("dedup:") || j.startsWith("cc:"))), jobs)
      assert(jobs.contains("dedup:minhash_pairs"), jobs)
      assert(jobs.contains("cc:canon") && jobs.contains("cc:min_label/round_1"), jobs)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  test("DedupScalingBench corpus: replica salting isolates near-dup structure") {
    // 2 replicas of sf0.001's 500 docs + 10 planted near-dups each: the
    // per-word replica suffix must keep ALL near-dup pairs within a
    // replica (no cross-replica shingle ⇒ no cross-replica band key ⇒ no
    // rep-sized artificial clusters), while the planted pairs are found
    // within each replica
    val c = DedupScalingBench.corpus(spark, "/root/testdata/sf0.001", 2)
    assert(c.count() == 2 * 510)
    val pairs = Dedup.minhashLshPairs(c, "doc_id", "text")
      .select(expr("doc_a DIV 1000000").as("rep_a"),
        expr("doc_b DIV 1000000").as("rep_b"),
        col("doc_a"), col("doc_b"))
      .collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getLong(0) == r.getLong(1)),
      "cross-replica near-dup pair found — salting failed")
    // planted (x, x+500000) dups surface within each replica
    val planted = pairs.count(r => r.getLong(3) - r.getLong(2) == 500000L)
    assert(planted >= 15, s"only $planted of 20 planted pairs found")
  }

  test("tunedMaxDf: census knee prunes planted boilerplate, recall preserved") {
    import graft.operators.Lsh
    // 60 docs share a boilerplate prefix (license-header analogue); one
    // genuine near-dup pair has distinct content. The census must show the
    // boilerplate knee, tunedMaxDf must land below it, and the tuned run
    // must keep the true pair while dropping the boilerplate clique.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val boilerplate = "all rights reserved license header text " // 6 words → shared shingles
    val docs = (100L until 160L).map(i =>
      (i, boilerplate + s"unique$i content$i words$i here$i now$i more$i"))
    val d = (Seq((1L, base), (2L, base + " tail")) ++ docs).toDF("doc_id", "text")
    val census = Dedup.ngramDocFreqTopK(d, "text", n = 3, k = 25)
    val cap = Lsh.tunedMaxDf(census)
    // boilerplate shingles occur in 60 docs, organic ones in ≤2
    assert(cap < 60 && cap >= 1, s"cap=$cap must sit below the 60-doc knee")
    val tuned = Dedup.ngramJaccardPairs(d, "doc_id", "text", 0.5, maxDf = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tuned.contains((1L, 2L)), "true near-dup pair must survive the tuned cap")
    assert(!tuned.exists(p => p._1 >= 100L && p._2 >= 100L),
      "boilerplate-only pairs must be pruned by the tuned cap")
    // a knee-free census (uniform dfs) keeps the default cap
    val flat = Seq(("a b c", 3L), ("b c d", 3L), ("c d e", 2L))
      .toDF("gram", "n_docs")
    assert(Lsh.tunedMaxDf(flat) == Lsh.DefaultMaxDf)
  }

  test("ngramJaccard at a finite maxDf: the shared count of the pruned postings " +
      "over the full set sizes, a lower bound on the full-set Jaccard") {
    import graft.operators.Lsh
    // the tunedMaxDf spec's corpus plus doc 200: doc 100 with one more
    // word, so the pair (100, 200) shares both boilerplate shingles and
    // shingles of its own
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val boilerplate = "all rights reserved license header text "
    def unique(i: Long) = boilerplate + s"unique$i content$i words$i here$i now$i more$i"
    val d = (Seq((1L, base), (2L, base + " tail"), (200L, unique(100L) + " extra")) ++
      (100L until 160L).map(i => (i, unique(i)))).toDF("doc_id", "text")
    val cap = Lsh.tunedMaxDf(Dedup.ngramDocFreqTopK(d, "text", n = 3, k = 25))
    val threshold = 0.2
    val got = Dedup.ngramJaccardPairs(d, "doc_id", "text", threshold, maxDf = cap)
    val sh = d.select(col("doc_id"),
      graft.functions.MinHashSig.shingles_native(col("text")).as("sh"))
    val hot = sh.select(explode(col("sh")).as("g")).groupBy("g").count()
      .filter(col("count") > cap).collect().map(_.getString(0)).toSeq
    assert(hot.size == 4, s"cap=$cap must prune exactly the boilerplate: $hot")
    // every pair: the full-set Jaccard, and the declared finite-maxDf value
    // (shared shingles outside the hot set over the full set sizes)
    val all = sh.toDF("doc_a", "sh_a").crossJoin(sh.toDF("doc_b", "sh_b"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("__n", (size(col("sh_a")) + size(col("sh_b"))).cast("double"))
      .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("__c", size(array_except(array_intersect(col("sh_a"), col("sh_b")),
        typedLit(hot))).cast("double"))
      .select(col("doc_a"), col("doc_b"),
        (col("__i") / (col("__n") - col("__i"))).as("full"),
        (col("__c") / (col("__n") - col("__c"))).as("jaccard"))
    val declared = all.filter(col("jaccard") > 0 && col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    assert(got.exceptAll(declared).isEmpty && declared.exceptAll(got).isEmpty)
    val pair = all.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    val g = got.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // a lower bound: exact without hot shingles, strictly below with them
    assert(g.forall { case (p, j) => j <= pair(p)._1 }, g)
    assert(g((1L, 2L)) == pair((1L, 2L))._1)
    assert(g((100L, 200L)) < pair((100L, 200L))._1)
    // pairs sharing only hot shingles are left out, although their
    // full-set Jaccard (4/16 = 0.25 among the boilerplate docs) passes
    val hotOnly = pair.toSeq.collect { case (p, (full, 0.0)) if full >= threshold => p }
    assert(hotOnly.size >= 60 * 59 / 2 && hotOnly.forall(p => !g.contains(p)))
    // at maxDf = Int.MaxValue the operator is the full-set Jaccard
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", threshold, maxDf = Int.MaxValue)
    val full = all.filter(col("full") >= threshold).select("doc_a", "doc_b", "full")
    assert(exact.exceptAll(full).isEmpty && full.exceptAll(exact).isEmpty)
  }

  test("tunedMaxDf: a knee above Int.MaxValue documents clamps, never wraps") {
    import graft.operators.Lsh
    // 3e9 as an Int wraps to -1294967296, which would prune every gram
    val census = Seq(("a b c", 30000000000L), ("b c d", 3000000000L),
      ("c d e", 2900000000L)).toDF("gram", "n_docs")
    assert(Lsh.tunedMaxDf(census) == Int.MaxValue)
    // a lower knee still wins over the clamped one
    val lower = Seq(("a b c", 30000000000L), ("b c d", 3000000000L),
      ("c d e", 7L)).toDF("gram", "n_docs")
    assert(Lsh.tunedMaxDf(lower) == 7)
  }

  test("ngram census: document frequency, deterministic ties, heap top-k") {
    val d = Seq(
      // "a b c" appears in docs 1,2,3 (TWICE in doc 1 — must count once),
      // "b c d" in docs 1,2, "x y z" in doc 4 only
      (1L, "a b c d a b c"), (2L, "a b c d"), (3L, "a b c"),
      (4L, "x y z"))
      .toDF("doc_id", "text")
    val top = Dedup.ngramDocFreqTopK(d, "text", n = 3, k = 3)
    val rows = top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows.head == ("a b c", 3L)) // document frequency, not term freq
    assert(rows(1) == ("b c d", 2L))
    // ties at n_docs=1 break on gram text ascending — deterministic cut
    assert(rows(2) == ("c d a", 1L))
    // global top-k must be a TakeOrdered (per-partition heaps), never a
    // full Sort+Exchange of the gram table
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no heap top-k:\n$plan")
  }

  /** The near-duplicate pairs of [[plantedDocs]], as a dedup pipeline
    * feeds them to connected components. */
  private lazy val plantedPairs =
    Dedup.minhashLshPairsWithStats(plantedDocs, "doc_id", "text")._1

  /** The ids of the local-checkpoint RDDs a frame reads. */
  private def checkpointIds(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet

  /** The path 1-2-…-8: at `maxIter = 1` min-label gives up and star
    * contraction finishes. */
  private def chain8 =
    (1L to 8L).sliding(2).map(s => (s.head, s(1))).toSeq.toDF("doc_a", "doc_b")

  /** Runs distributed CC and returns the `cc:` jobs it started, the ids of
    * the RDDs it left pinned and its result. */
  private def ccTraced(pairs: org.apache.spark.sql.DataFrame, maxIter: Int) = {
    var pinned = Set.empty[Int]
    var cc: org.apache.spark.sql.DataFrame = null
    val jobs = JobCapture(spark.sparkContext) {
      pinned = Pinned(spark.sparkContext) {
        cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b", maxIter = maxIter,
          driverEdgeLimit = 0)
      }
    }.filter(j => j.description != null && j.description.startsWith("cc:"))
    (jobs, pinned, cc)
  }

  test("distributed CC leaves only its result pinned, on min-label and on the " +
      "star fallback") {
    val (mlJobs, mlPinned, ml) = ccTraced(plantedPairs, 10)
    val (starJobs, starPinned, star) = ccTraced(chain8, 1)
    assert(!mlJobs.exists(_.description.startsWith("cc:star/")), mlJobs)
    assert(starJobs.exists(_.description.startsWith("cc:star/")), starJobs)
    // every superseded round is released; the last one holds the result
    assert(mlPinned.size == 1 && mlPinned == checkpointIds(ml), mlPinned)
    assert(starPinned.size == 1 && starPinned == checkpointIds(star), starPinned)
    assert(star.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 8L).map(_ -> 1L).toMap)
  }

  test("minhashLshPairsWithStats leaves only its verified pairs pinned") {
    var pairs: org.apache.spark.sql.DataFrame = null
    val pinned = Pinned(spark.sparkContext) {
      pairs = Dedup.minhashLshPairsWithStats(plantedDocs, "doc_id", "text")._1
    }
    // the candidate checkpoint is released once `verified` is pinned
    assert(pinned.size == 1 && pinned == checkpointIds(pairs), pinned)
    assert(pairs.count() >= 10)
  }

  test("distributed CC: the stop signal rides each round's checkpoint job") {
    val minLabel = ccTraced(plantedPairs, 10)._1
    val star = ccTraced(chain8, 1)._1
    // 18 and 67 cc: jobs when each min-label round ran a count() of its
    // changed labels and each star round a signature aggregate after its
    // checkpoint (measured on a copy of that code; 9 and 54 now)
    assert(minLabel.size < 18, minLabel)
    assert(star.size < 67, star)
    // The eager checkpoint is each step's last job (the stage jobs of its
    // adaptive plan run before it): no count or signature job follows it.
    for (jobs <- Seq(minLabel, star)) {
      val stepEnds = jobs.zip(jobs.drop(1).map(_.description) :+ null)
        .collect { case (j, next) if j.description != next => j }
      assert(stepEnds.forall(_.callSite.startsWith("localCheckpoint at")), jobs)
    }
  }
}
