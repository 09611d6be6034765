package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Spark-level regression cases for the distributional expectations (the
  * edges the fixture corpus does not reach). */
class DistributionalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions.col

  private def toDf(name: String, vs: Seq[Any]) = {
    import spark.implicits._
    vs.map(String.valueOf(_)).toDF(name)
  }

  test("cramers phi with an explicit numeric edge list of 3+ bins") {
    import spark.implicits._
    // 1..12 binned into [0,4),[4,8),[8,12] vs a perfectly-aligned category
    val df = (1 to 12).map { i =>
      (i.toDouble, if (i < 4) 0 else if (i < 8) 1 else 2)
    }.toDF("x", "g")
    val evr = ExpectColumnPairCramersPhiValueToBeLessThan(
      "x", "g", binsA = Some(Seq(0, 4, 8, 12))).run(df)
    assert(evr.exception.isEmpty, s"3-bin edge list threw: ${evr.exception}")
    assert(evr.observed.contains(1.0)) // perfect association
  }

  test("chi-square: unexpected category without holdout -> inf stat, p = 0") {
    import spark.implicits._
    val df = (Seq.fill(50)("a") ++ Seq.fill(50)("b") ++ Seq.fill(5)("zzz"))
      .toDF("c")
    val evr = ExpectColumnChisquareTestPValueToBeGreaterThan(
      "c", Seq("a", "b"), Seq(0.5, 0.5)).run(df)
    assert(evr.exception.isEmpty)
    assert(!evr.success)
    assert(evr.observed.contains(0.0)) // scipy: stat = inf, p = 0 (not NaN)
    val stat = evr.result("details").asInstanceOf[Map[String, Any]]("chi_squared")
      .asInstanceOf[Double]
    assert(stat.isPosInfinity)
  }

  test("distributed prefix-sum ECDF == local sorted-sample KS statistic") {
    import spark.implicits._
    import graft.functions.StatsMath
    // 100k skewed values across many partitions, with ties plus null/NaN
    // rows that must be excluded from both the count and the sup
    val vals = (0 until 100000).map(i => math.pow(i % 1000 / 1000.0, 2.0))
    val df = (vals.map(v => java.lang.Double.valueOf(v)) ++
      Seq[java.lang.Double](null, Double.NaN)).toDF("v")
      .repartition(37)
    val cdf = StatsMath.cdf("uniform", IndexedSeq(0.0, 1.0)) _
    val (d, n) = KsDistance.supDistance(df, "v", cdf)
    assert(n == 100000L)
    // local reference: classic sorted-sample sup over the same data
    val sorted = vals.sorted
    var best = 0.0
    var i = 0
    while (i < sorted.length) {
      val f = cdf(sorted(i))
      best = math.max(best, math.max((i + 1).toDouble / n - f,
        f - i.toDouble / n))
      i += 1
    }
    assert(d == best, s"distributed $d vs local $best")
  }

  test("KS asymptotic guard: near-perfect fit at huge n gives p ~ 1") {
    import graft.functions.StatsMath
    val n = 10000000L
    val d = 1.0 / (4.0 * n) // t = n d^2 ~ 6e-15
    assert(StatsMath.ksSf(d, n) == 1.0)
    // and the boundary above the guard still decreases monotonically
    assert(StatsMath.ksSfAsymptotic(math.sqrt(0.01 / n), n) >
      StatsMath.ksSfAsymptotic(math.sqrt(2.0 / n), n))
  }

  test("ksCritical: d <= crit is exactly ksSf(d, n) >= p on a dense sweep") {
    import graft.functions.StatsMath
    for (n <- Seq(10L, 25L, 100L); p <- Seq(0.05, 0.1)) {
      val crit = StatsMath.ksCritical(n, p)
      assert(StatsMath.ksSf(crit, n) >= p)
      // the adjacent double above the critical value must fail the test
      assert(StatsMath.ksSf(Math.nextUp(crit), n) < p)
      var d = 0.001
      while (d < 0.9) {
        assert((d <= crit) == (StatsMath.ksSf(d, n) >= p),
          s"equivalence broke at d=$d n=$n p=$p crit=$crit")
        d += 0.0013
      }
    }
  }

  test("exact bootstrapped KS == independent driver-side recomputation") {
    import spark.implicits._
    import graft.functions.StatsMath
    // 30 distinct values with skewed counts across partitions
    val data = (0 until 3000).map(i => ((i * i) % 30).toDouble)
    val df = data.toDF("x").repartition(13)
    val edges = Seq(0.0, 10.0, 30.0)
    val weights = Seq(0.4, 0.6)
    val (samples, size, seed, p) = (100, 20, 7L, 0.05)
    val e = ExpectColumnBootstrappedKsTestPValueToBeGreaterThan(
      "x", edges, weights, p = p, bootstrapSamples = samples,
      bootstrapSampleSize = size, seed = seed, exact = true)
    val evr = e.run(df)
    assert(evr.exception.isEmpty, s"exact mode threw: ${evr.exception}")
    val d1 = evr.result("details").asInstanceOf[Map[String, Any]]

    // independent recomputation: same md5 draw formula, same IEEE op order
    val hist = data.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    val n = hist.map(_._2).sum
    val cum = hist.scanLeft(0L)(_ + _._2).tail
    val cdf = ExpectColumnBootstrappedKsTestPValueToBeGreaterThan
      .cdfOf(weights)
    def interp(v: Double): Double =
      if (v <= edges.head) cdf(0)
      else {
        val i = (1 until edges.size).find(i => v < edges(i))
        i match {
          case Some(i) =>
            val dc = cdf(i) - cdf(i - 1)
            val de = edges(i) - edges(i - 1)
            cdf(i - 1) + dc * (v - edges(i - 1)) / de
          case None => cdf.last
        }
      }
    val md = java.security.MessageDigest.getInstance("MD5")
    def draw(s: Int, i: Int): Double = {
      val hex = md.digest(s"$seed:$s:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val t = java.lang.Long.parseLong(hex, 16) % n
      hist(cum.indexWhere(_ > t))._1
    }
    val crit = StatsMath.ksCritical(size.toLong, p)
    var above = 0L
    for (s <- 0 until samples) {
      val sample = (0 until size).map(i => (draw(s, i), i)).sortBy(x => x)
      var dMax = 0.0
      for (((v, _), j) <- sample.zipWithIndex) {
        val f = interp(v)
        dMax = math.max(dMax, math.max(
          (j + 1).toDouble / size.toDouble - f,
          f - j.toDouble / size.toDouble))
      }
      if (dMax <= crit) above += 1
    }
    val expected = (1.0 + above) / (samples + 1).toDouble
    assert(d1("n_above") == above, s"engine ${d1("n_above")} vs local $above")
    assert(evr.result("observed_value") == expected) // bit-equal, not ≈
    assert(d1("element_count") == n)
    // determinism: an identical second run reproduces the result exactly
    assert(e.run(df).result("observed_value") == expected)
  }

  test("exact bootstrapped KS: empty column and kwargs flag") {
    import spark.implicits._
    val e = ExpectColumnBootstrappedKsTestPValueToBeGreaterThan(
      "x", Seq(0.0, 1.0), Seq(1.0), exact = true)
    val evr = e.run(Seq.empty[Double].toDF("x"))
    assert(!evr.success)
    assert(evr.result("observed_value") == null)
    assert(e.kwargs("exact") == true) // resolution mode recorded in kwargs
  }

  test("every capped categorical check fails loudly above MaxCategories") {
    import spark.implicits._
    val n = KlMath.MaxCategories
    val df = (0 to n).map(i => (i.toString, i.toDouble, i % 3))
      .toDF("s", "x", "g")
    val cases = Seq(
      ExpectColumnKlDivergenceToBeLessThan("s", Seq("0"), Seq(1.0), 0.1) ->
        s"categorical KL: column 's' has more than $n distinct values",
      ExpectColumnChisquareTestPValueToBeGreaterThan("s", Seq("0"), Seq(1.0)) ->
        s"chi-square test: column 's' has more than $n distinct values",
      ExpectColumnBootstrappedKsTestPValueToBeGreaterThan(
        "x", Seq(0.0, n.toDouble), Seq(1.0)) ->
        s"bootstrapped KS: column 'x' has more than $n distinct values",
      ExpectColumnPairCramersPhiValueToBeLessThan("s", "g") ->
        "cramers phi: contingency table exceeds the category cap",
      ExpectColumnPairCramersPhiValueToBeLessThan("s", "g", nBinsA = Some(4)) ->
        "cramers phi: column 's' has too many distinct values to bin")
    val evrs = Graft.validate(df, Suite("cap", cases.map(_._1))).results
    assert(evrs.size == cases.size)
    for ((evr, (_, msg)) <- evrs.zip(cases)) {
      assert(!evr.success)
      assert(evr.exception.exists(_.contains(msg)), evr.exception)
    }
  }
}
