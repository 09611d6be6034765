package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Similarity}

/** Dedup + similarity-search queries over documents/embeddings, each with a
  * DuckDB oracle generated from the same constants. Near-duplicates are
  * planted deterministically (id+100000 copies with/without a small tail)
  * so the detectors have non-trivial positives to find. */
object DedupQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    ScanSpread(s.read.parquet(s"$dir/documents.parquet"), col("doc_id"))
  private def embs(s: SparkSession, dir: String): DataFrame =
    ScanSpread(s.read.parquet(s"$dir/embeddings.parquet"), col("vec_id"))

  /** Near-dup plant: every 50th doc gets a copy with a 3-word tail. */
  private def augDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.unionByName(d.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" extra tail words"))))
  }
  private val augDocsSql =
    """docs AS (SELECT * FROM documents UNION ALL
      |  SELECT doc_id + 100000, text || ' extra tail words', lang, source, n_chars
      |  FROM documents WHERE doc_id % 50 = 0)""".stripMargin

  /** Exact-dup plant: every 50th doc gets an identical copy. */
  private def augDocsExact(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.unionByName(d.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 200000L))
  }

  /** Embedding near-dup plant: every 100th vector duplicated. */
  private def augEmbs(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    e.unionByName(e.filter(col("vec_id") % 100 === 0)
      .withColumn("vec_id", col("vec_id") + 100000L))
  }
  private val augEmbsSql =
    """vecs AS (SELECT * FROM embeddings UNION ALL
      |  SELECT vec_id + 100000, embedding, label FROM embeddings WHERE vec_id % 100 = 0)""".stripMargin

  /** 10× replicated embedding corpus: 10 identical copies with offset ids,
    * the scale plant for the banded near-dup path (q49) — the corpus the
    * old all-pairs cartesian formulation could not finish. */
  private def embs10x(s: SparkSession, dir: String): DataFrame = {
    // plain read: the union is spread at most ONCE (10 × embs() would
    // stack 10 × defaultParallelism micro-partitions)
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    ScanSpread((0 until 10).map(j =>
      e.withColumn("vec_id", col("vec_id") + lit(j * 1000000L)))
      .reduce(_ unionByName _), col("vec_id"))
  }
  private val embs10xSql =
    (0 until 10).map(j =>
      s"SELECT vec_id + ${j * 1000000L} AS vec_id, embedding FROM embeddings")
      .mkString("vecs AS (", " UNION ALL ", ")")

  // --- oracle SQL fragments ---------------------------------------------------
  private val normSql = graft.functions.TextFunctions.normTextSql("text")

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Sign-band bucket key for band b over 8 dims (Similarity.signBandKey). */
  private def bandKeySql(v: String, band: Int, bits: Int = 8): String =
    (0 until bits).map(i =>
      s"CASE WHEN $v[${band * bits + i + 1}] > 0 THEN ${1 << i} ELSE 0 END")
      .mkString(" + ")

  /** (vec_id, b, bk) band table over `vecs` for 4×8-bit sign bands. */
  private def bandsSql(bands: Int = 4): String =
    (0 until bands).map(b =>
      s"SELECT vec_id, $b AS b, (${bandKeySql("embedding", b)}) AS bk FROM vecs")
      .mkString("bands AS (", " UNION ALL ", ")")

  /** Banded near-dup pair oracle: candidates share ≥1 sign band, verified
    * with exact cosine. */
  private def nearDupOracle(vecsCte: String, threshold: Double): String =
    s"""WITH $vecsCte,
       |${bandsSql()},
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bk = b.bk AND a.vec_id < b.vec_id),
       |p AS (SELECT c.vec_a, c.vec_b, ${cosSql("va.embedding", "vb.embedding")} AS cos
       |  FROM cand c JOIN vecs va ON va.vec_id = c.vec_a JOIN vecs vb ON vb.vec_id = c.vec_b)
       |SELECT vec_a, vec_b, cos FROM p WHERE cos >= $threshold ORDER BY vec_a, vec_b""".stripMargin

  private val K = 12
  private val Bands = 4

  /** Shared CTE chain producing the verified n-gram-Jaccard pair list
    * (q57's oracle body; q65 stacks a recursive closure on top). */
  private val ngramPairCtes: String =
    s"""$augDocsSql,
       |normd AS (SELECT doc_id, string_split($normSql, ' ') AS w, $normSql AS norm FROM docs),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
       |  THEN list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |  ELSE [norm] END) AS s FROM normd),
       |posting AS (SELECT doc_id, unnest(s) AS sg FROM sh),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM posting a JOIN posting b USING (sg) WHERE a.doc_id < b.doc_id),
       |j AS (SELECT c.doc_a, c.doc_b,
       |  CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
       |    / (len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x)))) AS jaccard
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b)""".stripMargin

  /** Recursive transitive closure over the verified pair list (stacks on
    * ngramPairCtes' `j`): reach(node, lbl) reaches every label, so
    * min(lbl) per node is exactly connectedComponents' fixpoint. ONE
    * definition shared by q65 and q90 so the closure can never diverge
    * between them. */
  private val ccClosureCtes: String =
    """pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
      |ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |       UNION SELECT doc_b, doc_a FROM pairs),
      |reach(node, lbl) AS (
      |  SELECT a, a FROM ed
      |  UNION
      |  SELECT ed.a, reach.lbl FROM ed JOIN reach ON ed.b = reach.node)""".stripMargin

  private val minhashOracle: String = {
    val sigExprs = (0 until K).map(j =>
      s"list_min(list_transform(s, x -> md5('$j:' || x)))").mkString("[", ", ", "]")
    s"""WITH $augDocsSql,
normd AS (SELECT doc_id, string_split($normSql, ' ') AS w, $normSql AS norm FROM docs),
sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
  THEN list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
  ELSE [norm] END) AS s FROM normd),
sig AS (SELECT doc_id, $sigExprs AS g FROM sh),
bands AS (SELECT doc_id, b, md5(g[3*b+1] || '|' || g[3*b+2] || '|' || g[3*b+3]) AS bk
  FROM sig, (SELECT unnest(generate_series(0, ${Bands - 1})) AS b) t),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id),
j AS (SELECT c.doc_a, c.doc_b,
  CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
    / (len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x)))) AS jaccard
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""
  }

  private val simhashFpSql: String = {
    val terms = (0 until 60).map(i =>
      s"CASE WHEN 2 * len(list_filter(hs, h -> (h >> $i) & 1 = 1)) > len(hs) THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""(SELECT doc_id, ($terms) AS fp FROM (
  SELECT doc_id, list_transform(string_split($normSql, ' '),
    t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM docs) hh)"""
  }

  private val simhashFpOracle: String =
    s"WITH docs AS (SELECT * FROM documents) SELECT doc_id, fp FROM $simhashFpSql ff ORDER BY doc_id"

  private val simhashPairsOracle: String =
    s"""WITH $augDocsSql,
fps AS (SELECT * FROM $simhashFpSql ff),
bands AS (SELECT doc_id, fp, b, (fp >> (15 * b)) & 32767 AS bk
  FROM fps, (SELECT unnest(generate_series(0, 3)) AS b) t),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp AS fa, b.fp AS fb
  FROM bands a JOIN bands b ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= 6 ORDER BY doc_a, doc_b"""

  // ---------------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q14_dedup_exact" -> ((s, dir) =>
      Dedup.exactDedup(augDocsExact(s, dir), "text", "doc_id")
        .orderBy("keep_id")),
    "q15_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLshPairs(augDocs(s, dir), "doc_id", "text", K, Bands, 0.5,
        maxBucket = Int.MaxValue) // bit-parity oracle: exhaustive candidates
        .orderBy("doc_a", "doc_b")),
    "q57_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(augDocs(s, dir), "doc_id", "text", 0.5,
        maxDf = Int.MaxValue) // bit-parity oracle: exhaustive candidates
        .orderBy("doc_a", "doc_b")),
    "q65_dedup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(augDocs(s, dir), "doc_id", "text", 0.5,
          maxDf = Int.MaxValue),
        "doc_a", "doc_b").orderBy("id")),
    "q16_dedup_simhash_fp" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
        .orderBy("doc_id")),
    "q17_dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(augDocs(s, dir), "doc_id", "text", 6,
        maxBucket = Int.MaxValue) // bit-parity oracle: exhaustive candidates
        .orderBy("doc_a", "doc_b")),
    "q18_dedup_embedding" -> ((s, dir) =>
      Similarity.embeddingNearDupPairs(augEmbs(s, dir), 0.95,
        maxBucket = Int.MaxValue) // bit-parity oracle: exhaustive candidates
        .orderBy("vec_a", "vec_b")),
    "q49_dedup_embedding_10x" -> ((s, dir) =>
      Similarity.embeddingNearDupPairs(embs10x(s, dir), 0.95,
        maxBucket = Int.MaxValue) // bit-parity oracle: exhaustive candidates
        .orderBy("vec_a", "vec_b")),
    "q19_sim_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") % 100 === 0), 5)
        .orderBy("query_id", "rank")
    }),
    "q20_sim_lsh" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") % 100 === 0), 3,
        maxBucket = Int.MaxValue) // bit-parity oracle: exhaustive candidates
        .orderBy("query_id", "rank")
    }),
    "q55_sim_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfTopK(e,
        queries = e.filter(col("vec_id") % 100 === 50),
        centroids = e.filter(col("vec_id") % 100 === 0),
        k = 3, nProbe = 2)
        .orderBy("query_id", "rank")
    }),
    /** Full near-dup dedup composition: verified pair list → connected
      * components → one surviving representative (min id) per cluster,
      * pass-through for unpaired docs — the shape production dedup
      * actually ships. */
    "q90_dedup_canonical" -> ((s, dir) => {
      val d = augDocs(s, dir)
      Dedup.dedupByPairs(d, "doc_id",
          Dedup.ngramJaccardPairs(d, "doc_id", "text", 0.5,
            maxDf = Int.MaxValue),
          "doc_a", "doc_b")
        .select("doc_id").orderBy("doc_id")
    }),
    /** ANN quality evaluation: per-query recall@3 of banded sign-LSH
      * against exact brute force — the dial a production ANN deployment
      * tunes band count / nProbe against. */
    "q84_ann_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val queries = e.filter(col("vec_id") % 100 === 0)
      val approx = Similarity.lshTopK(e, queries, 3, maxBucket = Int.MaxValue)
      val exact = Similarity.bruteForceTopK(e, queries, 3)
      graft.operators.Evaluation.recallAtK(approx, exact,
        "query_id", "neighbor_id").orderBy("query_id")
    }))

  val oracles: Map[String, String] = Map(
    "q14_dedup_exact" ->
      s"""WITH docs AS (SELECT * FROM documents UNION ALL
         |  SELECT doc_id + 200000, text, lang, source, n_chars FROM documents WHERE doc_id % 50 = 0)
         |SELECT md5($normSql) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
         |FROM docs GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "q15_dedup_minhash" -> minhashOracle,
    "q57_dedup_ngram_jaccard" ->
      s"""WITH $ngramPairCtes
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "q65_dedup_clusters" ->
      s"""WITH RECURSIVE $ngramPairCtes,
         |$ccClosureCtes
         |SELECT node AS id, min(lbl) AS cluster FROM reach
         |GROUP BY node ORDER BY id""".stripMargin,
    "q16_dedup_simhash_fp" -> simhashFpOracle,
    "q17_dedup_simhash_pairs" -> simhashPairsOracle,
    "q18_dedup_embedding" -> nearDupOracle(augEmbsSql, 0.95),
    "q49_dedup_embedding_10x" -> nearDupOracle(embs10xSql, 0.95),
    "q19_sim_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
         |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  ${cosSql("qv", "e.embedding")} AS cos
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q55_sim_ivf" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 100 = 0),
         |cells AS (SELECT vec_id AS neighbor_id, cid AS cell FROM (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.cv")} DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN cents c) t WHERE rn = 1),
         |qv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 50),
         |probes AS (SELECT vec_id AS query_id, cid AS cell FROM (
         |  SELECT q.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q.embedding", "c.cv")} DESC, c.cid) AS rn
         |  FROM qv q CROSS JOIN cents c) t WHERE rn <= 2),
         |cand AS (SELECT DISTINCT p.query_id, cc.neighbor_id
         |  FROM cells cc JOIN probes p USING (cell)
         |  WHERE cc.neighbor_id <> p.query_id),
         |scored AS (SELECT cand.query_id, cand.neighbor_id,
         |  ${cosSql("q.embedding", "e.embedding")} AS cos
         |  FROM cand JOIN embeddings e ON e.vec_id = cand.neighbor_id
         |  JOIN qv q ON q.vec_id = cand.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM r
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "q20_sim_lsh" -> {
      def bt(src: String) = (0 until 4).map(b =>
        s"SELECT vec_id, $b AS b, (${bandKeySql("embedding", b)}) AS bk FROM $src")
        .mkString(" UNION ALL ")
      s"""WITH qv AS (SELECT * FROM embeddings WHERE vec_id % 100 = 0),
         |qb AS (${bt("qv")}),
         |cb AS (${bt("embeddings")}),
         |cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
         |  FROM cb JOIN qb ON cb.b = qb.b AND cb.bk = qb.bk AND cb.vec_id <> qb.vec_id),
         |scored AS (SELECT c.query_id, c.neighbor_id,
         |  ${cosSql("q.embedding", "e.embedding")} AS cos
         |  FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
         |  JOIN qv q ON q.vec_id = c.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM r
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },
    "q90_dedup_canonical" ->
      s"""WITH RECURSIVE $ngramPairCtes,
         |$ccClosureCtes,
         |cc AS (SELECT node AS id, min(lbl) AS cluster FROM reach GROUP BY node)
         |SELECT d.doc_id FROM docs d LEFT JOIN cc ON cc.id = d.doc_id
         |WHERE cc.cluster IS NULL OR cc.cluster = d.doc_id
         |ORDER BY doc_id""".stripMargin,
    "q84_ann_recall" -> {
      def bt(src: String) = (0 until 4).map(b =>
        s"SELECT vec_id, $b AS b, (${bandKeySql("embedding", b)}) AS bk FROM $src")
        .mkString(" UNION ALL ")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qemb FROM embeddings WHERE vec_id % 100 = 0),
         |bscored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  ${cosSql("qemb", "e.embedding")} AS cos
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |br AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM bscored),
         |bf AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 3),
         |qv AS (SELECT * FROM embeddings WHERE vec_id % 100 = 0),
         |qb AS (${bt("qv")}),
         |cb AS (${bt("embeddings")}),
         |cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
         |  FROM cb JOIN qb ON cb.b = qb.b AND cb.bk = qb.bk AND cb.vec_id <> qb.vec_id),
         |lscored AS (SELECT c.query_id, c.neighbor_id,
         |  ${cosSql("qq.embedding", "e.embedding")} AS cos
         |  FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
         |  JOIN qv qq ON qq.vec_id = c.query_id),
         |lr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM lscored),
         |lsh AS (SELECT query_id, neighbor_id FROM lr WHERE rank <= 3),
         |hits AS (SELECT bf.query_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM bf JOIN lsh USING (query_id, neighbor_id) GROUP BY 1),
         |tot AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_true FROM bf GROUP BY 1)
         |SELECT t.query_id, COALESCE(n_hit, 0) AS n_hit, n_true,
         |  CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_true AS recall
         |FROM tot t LEFT JOIN hits USING (query_id) ORDER BY query_id""".stripMargin
    })
}
