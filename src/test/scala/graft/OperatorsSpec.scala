package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

class OperatorsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // ---- IntervalIndex: property-check vs a naive linear scan ----------------
  test("IntervalIndex matches naive first/last-match over random rules") {
    val rnd = new scala.util.Random(7)
    val rules = Seq.tabulate(60) { i =>
      val lo = rnd.nextInt(1000).toLong
      (lo, lo + rnd.nextInt(80), rnd.nextInt(10).toLong, i)
    }
    def naive(p: Long, lastWins: Boolean): Int = {
      val hits = rules.filter(r => p >= r._1 && p <= r._2)
      if (hits.isEmpty) -1
      else if (lastWins) hits.maxBy(r => (r._3, r._4))._4
      else hits.minBy(r => (r._3, r._4))._4
    }
    for (lastWins <- Seq(true, false)) {
      val idx = IntervalIndex.build(rules, lastWins)
      for (p <- -5L to 1105L)
        assert(idx.lookup(p) == naive(p, lastWins), s"p=$p lastWins=$lastWins")
    }
  }

  test("IntervalIndex handles empty and degenerate rules") {
    assert(IntervalIndex.build(Nil, lastWins = true).lookup(5) == -1)
    val idx = IntervalIndex.build(Seq((10L, 5L, 0L, 1), (7L, 7L, 0L, 2)), lastWins = false)
    assert(idx.lookup(7) == 2 && idx.lookup(8) == -1) // inverted rule dropped
  }

  // ---- RangeJoin policies --------------------------------------------------
  test("RangeJoin first/last-match policies") {
    val fact = Seq((1L, 15L), (2L, 35L), (3L, 99L)).toDF("id", "pt")
    val dim = Seq((10L, 20L, 1L, "a"), (12L, 40L, 2L, "b"), (30L, 50L, 3L, "c"))
      .toDF("lo", "hi", "prio", "tag")
    def run(policy: RangeJoin.MatchPolicy) =
      RangeJoin.pointInInterval(fact, dim, col("pt"), col("lo"), col("hi"),
          policy, col("prio"), Seq(col("id")))
        .select(col("id"), col("tag")).as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(run(RangeJoin.FirstMatch) == Seq((1L, "a"), (2L, "b"), (3L, null)))
    assert(run(RangeJoin.LastMatch) == Seq((1L, "b"), (2L, "c"), (3L, null)))
  }

  test("enrichAuto (flattened index) agrees with the windowed RangeJoin on random rules") {
    // the two J1/J2 implementations — full-fact window vs broadcast interval
    // index — must never drift; seeded random overlapping rule sets
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { trial =>
      // distinct lo values: equal priorities would make the WINDOW variant's
      // tie-break nondeterministic (not a semantics difference)
      val los = rnd.shuffle((0 until 1000).toList).take(20)
      val dim = los.zipWithIndex.map { case (lo, i) =>
        (lo.toLong, lo.toLong + rnd.nextInt(300), s"tag${trial}_$i")
      }.toDF("lo", "hi", "tag")
      val fact = Seq.tabulate(200)(i => (i.toLong, rnd.nextInt(1600).toLong - 100))
        .toDF("id", "pt")
      def windowed(policy: RangeJoin.MatchPolicy) =
        RangeJoin.pointInInterval(fact, dim, col("pt"), col("lo"), col("hi"),
            policy, col("lo"), Seq(col("id")))
          .select(col("id"), col("tag")).as[(Long, String)].collect().sortBy(_._1).toSeq
      def indexed(lastWins: Boolean) =
        graft.operators.IntervalIndex.enrichAuto(spark, fact, col("pt"), dim,
            "lo", "hi", "lo", lastWins)
          .select(col("id"), col("tag")).as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(windowed(RangeJoin.FirstMatch) == indexed(lastWins = false), s"first, trial $trial")
      assert(windowed(RangeJoin.LastMatch) == indexed(lastWins = true), s"last, trial $trial")
    }
  }

  test("IntervalIndex.enrichAuto fails fast on fact-sized and null-bound dims") {
    val fact = Seq((1L, 5L)).toDF("id", "pt")
    // a "dim" bigger than the collect cap must error with the fallback named,
    // not OOM the driver (cap lowered via maxRules to keep the test small)
    val big = spark.range(50)
      .selectExpr("id AS lo", "id + 1 AS hi", "CAST(id AS STRING) AS tag")
    val eBig = intercept[IllegalArgumentException] {
      graft.operators.IntervalIndex.enrichAuto(spark, fact, col("pt"), big,
        "lo", "hi", "lo", lastWins = false, maxRules = 10)
    }
    assert(eBig.getMessage.contains("more than 10 rows") &&
      eBig.getMessage.contains("aggregate the dim down to a rule table"))
    // a null lo/hi bound must raise a descriptive error, not an opaque NPE
    val nullDim = Seq((Some(1L), None: Option[Long], "x"))
      .toDF("lo", "hi", "tag")
    val eNull = intercept[IllegalArgumentException] {
      graft.operators.IntervalIndex.enrichAuto(spark, fact, col("pt"), nullDim,
        "lo", "hi", "lo", lastWins = false)
    }
    assert(eNull.getMessage.contains("null"))
    // the J3 in-net path reaches the driver through the same guarded collect
    val nullRanges = nullDim.selectExpr("lo AS min_long_ip", "hi AS max_long_ip")
    val eInNet = intercept[IllegalArgumentException] {
      graft.dns.Dims.enrichInNet(spark, Seq(("10.0.0.1", 1L)).toDF("aip", "resolver"),
        nullRanges, nullRanges)
    }
    assert(eInNet.getMessage.contains("null"))
  }

  test("cms_sketch: estimates never undercount and are partitioning-invariant") {
    import graft.functions.{Functions => F, KernelAggs}
    val keys = (0 until 500).map(i => s"k${i % 37}")
    def sketchOf(parts: Int): Seq[Long] = {
      val df = keys.toDF("k").repartition(parts)
      df.agg(KernelAggs.cms_sketch(col("k"), 4, 16).as("sk"))
        .head().getSeq[Long](0)
    }
    // exact long counters: merge order / partitioning cannot change the sketch
    assert(sketchOf(1) == sketchOf(7))
    val sk = sketchOf(3)
    assert(sk.sum == 500L * 4) // every row increments one cell per hash row
    // CMS soundness: estimate >= exact for every key
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    exact.foreach { case (k, cnt) =>
      val est = (0 until 4).map { j =>
        val b = (graft.functions.Kernels.hash60(
          org.apache.spark.unsafe.types.UTF8String.fromString(k + "#" + j)) % 16).toInt
        sk(j * 16 + b)
      }.min
      assert(est >= cnt, s"undercount for $k: $est < $cnt")
    }
  }

  test("hll_registers: partitioning-invariant, estimate within HLL error of exact") {
    import graft.functions.KernelAggs
    val keys = (0 until 2000).map(i => s"user${i % 700}")
    def regsOf(parts: Int): Seq[Long] = keys.toDF("k").repartition(parts)
      .agg(KernelAggs.hll_registers(col("k"), 64).as("r")).head().getSeq[Long](0)
    assert(regsOf(1) == regsOf(13)) // merge = element-wise max, order-free
    val regs = regsOf(4)
    // raw harmonic estimate with alpha_64 ≈ 0.709: within ~3σ of 1.04/√64
    val invSum = regs.map(r => math.pow(2.0, -r)).sum
    val est = 0.709 * 64 * 64 / invSum
    assert(math.abs(est - 700.0) / 700.0 < 0.4, s"est=$est")
  }

  // ---- TopK ----------------------------------------------------------------
  test("TopK global and per-group") {
    val df = Seq(("a", 5L), ("a", 3L), ("a", 9L), ("b", 7L), ("b", 1L))
      .toDF("g", "v")
    assert(TopK.global(df, 2, col("v").desc).as[(String, Long)].collect().toSeq ==
      Seq(("a", 9L), ("b", 7L)))
    val per = TopK.perGroup(df, 1, Seq(col("g")), Seq(col("v").desc))
      .select("g", "v").as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(per == Seq(("a", 9L), ("b", 7L)))
  }

  // ---- Dedup ---------------------------------------------------------------
  test("exactDedup keeps min-id row per distinct text") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "t")
    val kept = Dedup.exactDedup(df, "t", "id").select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("minhash LSH surfaces identical docs with est_jaccard 1.0") {
    val doc = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq((1L, doc), (2L, doc), (3L, "completely different words here now ok fine"))
      .toDF("id", "text")
    val pairs = Dedup.minhashCandidates(df, col("id"), col("text"), 3, 8, 4)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    assert(!pairs.exists(p => p._2 == 3L && p._3 == 1.0))
  }

  test("degenerate LSH bucket degrades to stars: bounded pairs, same clusters") {
    // 2000 identical docs collapse into ONE bucket per band: unguarded,
    // that is ~2M pairs in one task; the guard caps it at O(n) star edges
    val n = 2000
    val df = (0 until n).map(i => (i.toLong, "same exact boilerplate text every time"))
      .toDF("id", "text")
    val pairs = Dedup.minhashCandidates(df, col("id"), col("text"),
      shingleN = 3, numHashes = 8, bands = 4, maxBucket = 100)
    val cnt = pairs.count()
    assert(cnt == (n - 1).toLong,
      s"guarded bucket emitted $cnt pairs, want ${n - 1} star edges")
    // identical docs share the full signature: every star edge carries
    // est_jaccard exactly 1.0, so threshold-filtering callers (est >= tau)
    // keep the duplicate cluster intact under the cap
    assert(pairs.filter(col("est_jaccard") < 1.0).count() == 0,
      "signature-group star edges must be est 1.0")
    // the star preserves the duplicate CLUSTER exactly: every doc in one
    // component labeled by the min id
    val clusters = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters.size == n && clusters.values.forall(_ == 0L),
      "star degradation broke the duplicate cluster")
    // and a NON-degenerate corpus is untouched by the guard: tiny cap vs
    // default cap give identical pairs when no bucket exceeds either
    val mixed = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "other words entirely unrelated here")).toDF("id", "text")
    def ps(cap: Int) = Dedup.minhashCandidates(mixed, col("id"), col("text"),
        3, 8, 4, maxBucket = cap)
      .as[(Long, Long, Double)].collect().toSet
    assert(ps(4096) == ps(10), "guard changed results below the cap")
  }

  test("degenerate SimHash chunk degrades to stars: bounded pairs, same clusters") {
    // the same boilerplate flood that [[minhashCandidates]] survives: every
    // doc shares every 15-bit chunk, so unguarded the self-join is ~2M
    // pairs in ONE task; guarded it is n-1 Hamming-0 star edges
    val n = 2000
    val df = (0 until n).map(i => (i.toLong, "same exact boilerplate text every time"))
      .toDF("id", "text")
    val pairs = Dedup.simhashCandidates(df, col("id"), col("text"),
      bands = 4, maxBucket = 100)
    val rows = pairs.as[(Long, Long, Int)].collect()
    assert(rows.length == n - 1,
      s"guarded chunk emitted ${rows.length} pairs, want ${n - 1} star edges")
    assert(rows.forall(r => r._1 == 0L && r._3 == 0),
      "star edges must be Hamming 0 onto the min id")
    val clusters = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters.size == n && clusters.values.forall(_ == 0L),
      "star degradation broke the duplicate cluster")
    // below the cap the guard is invisible: tiny cap vs default give the
    // same candidate set on a non-degenerate corpus
    val mixed = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "other words entirely unrelated here")).toDF("id", "text")
    def ps(cap: Int) = Dedup.simhashCandidates(mixed, col("id"), col("text"),
        bands = 4, maxBucket = cap)
      .as[(Long, Long, Int)].collect().toSet
    assert(ps(4096) == ps(10), "guard changed results below the cap")
  }

  test("simhash: identical docs distance 0, different docs positive") {
    val df = Seq("one two three four five", "one two three four five",
      "totally unrelated content words").toDF("text")
      .withColumn("sh", Dedup.simhash64(col("text")))
    val hs = df.select("sh").as[Long].collect()
    assert(hs(0) == hs(1))
    val d = Seq((hs(0), hs(2))).toDF("a", "b")
      .select(Dedup.hamming64(col("a"), col("b"))).as[Int].head()
    assert(d > 0)
  }

  test("ngramJaccard: 1.0 on identical, 0.0 on disjoint") {
    val df = Seq(("a b c d", "a b c d", "x y z w")).toDF("s1", "s2", "s3")
    assert(df.select(Dedup.ngramJaccard(col("s1"), col("s2"), 2)).as[Double].head() == 1.0)
    assert(df.select(Dedup.ngramJaccard(col("s1"), col("s3"), 2)).as[Double].head() == 0.0)
  }

  // ---- Similarity ----------------------------------------------------------
  test("bruteForceTopK: duplicated vector's top neighbor is its twin at 1.0") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.5f)), (2L, Seq(1.0f, 0.0f, 0.5f)),
      (3L, Seq(-1.0f, 0.2f, 0.0f)), (4L, Seq(0.0f, 1.0f, -0.5f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, col("vec_id"), col("embedding"),
        vecs.filter(col("vec_id") === 1), col("vec_id"), col("embedding"), 1)
      .select("neighbor_id", "cosine").as[(Long, Double)].collect()
    assert(top.toSeq == Seq((2L, 1.0)))
  }

  test("lshTopK buckets agree for identical vectors") {
    val vecs = Seq((1L, Seq(1.0f, 0.2f)), (2L, Seq(1.0f, 0.2f)), (3L, Seq(-0.9f, -0.1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(vecs, col("vec_id"), col("embedding"),
        vecs.filter(col("vec_id") === 1), col("vec_id"), col("embedding"), 5, 4)
      .select("neighbor_id").as[Long].collect()
    assert(out.contains(2L)) // twin always lands in the same bucket
  }

  test("duplicateClusters: chains merge transitively, min id labels cluster") {
    import spark.implicits._
    // components: {1,2,3,4} via chain, {10,11}; 99 absent (singleton)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = graft.operators.Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L)))
  }
}
