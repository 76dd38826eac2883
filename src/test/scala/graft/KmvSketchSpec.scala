package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.KmvSketchAgg

/** Laws of the KMV/Theta distinct sketch ([[graft.functions.KmvSketchAgg]])
  * and the overlap estimators built on it. */
class KmvSketchSpec extends SparkSpec {
  import spark.implicits._

  private def sketchOf(hashes: Seq[Long], k: Int, parts: Int) = {
    hashes.toDF("h").repartition(parts)
      .agg(KmvSketchAgg.column(col("h"), k).as("sk"))
      .head().getSeq[Long](0)
  }

  test("exact mode: fewer than k distinct values -> the sorted distinct set") {
    val vals = Seq(42L, -7L, 42L, 0L, Long.MinValue, Long.MaxValue, -7L)
    val sk = sketchOf(vals, k = 64, parts = 3)
    // unsigned ascending: 0, 42, MaxValue (=2^63-1), MinValue (=2^63), -7 (=2^64-7)
    assert(sk == Seq(0L, 42L, Long.MaxValue, Long.MinValue, -7L))
  }

  test("saturated: k smallest distinct unsigned hashes, any partitioning") {
    val rng = new scala.util.Random(7)
    val vals = Seq.fill(5000)(rng.nextLong())
    val expected = vals.distinct.sortBy(h => h ^ Long.MinValue).take(128)
    for (parts <- Seq(1, 4, 13)) {
      assert(sketchOf(vals, k = 128, parts = parts) == expected,
        s"partitioning $parts changed the sketch")
    }
  }

  test("duplicate-heavy stream: eviction + membership survive churn") {
    // small pool => constant duplicate hits and threshold evictions,
    // the hot paths of the heap + open-addressing internals
    val rng = new scala.util.Random(23)
    val pool = Seq.fill(300)(rng.nextLong()) :+ 0L // include the sentinel hash
    val vals = Seq.fill(5000)(pool(rng.nextInt(pool.length)))
    val expected = vals.distinct.sortBy(h => h ^ Long.MinValue).take(128)
    for (parts <- Seq(1, 7)) {
      assert(sketchOf(vals, k = 128, parts = parts) == expected)
    }
  }

  test("distinct estimate within the published relative bound") {
    val k = 256
    val n = 20000
    // deterministic "hashes": xxhash64 of 1..n via Spark itself
    val est = spark.range(n.toLong)
      .select(xxhash64(col("id")).as("h"))
      .agg(KmvSketchAgg.column(col("h"), k).as("sk"))
      .select(
        when(size(col("sk")) === k,
          lit((k - 1).toDouble) /
            (element_at(col("sk"), k).cast("double") / lit(1.8446744073709552e19) +
              when(element_at(col("sk"), k) < 0, 1.0).otherwise(0.0)))
          .otherwise(size(col("sk")).cast("double")).as("est"))
      .head().getDouble(0)
    assert(math.abs(est - n) <= 6.0 / math.sqrt((k - 2).toDouble) * n,
      s"est $est vs exact $n")
  }

  test("kmv gate row: every boolean true at sf0.001 and sf0.01") {
    for (d <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val rows = Dedup.sourceOverlapKmvVerified(spark, d).collect()
      assert(rows.nonEmpty, s"no overlap pairs at $d")
      assert(rows.forall(_.getAs[Boolean]("sizes_within_bound")), s"sizes bound failed at $d")
      assert(rows.forall(_.getAs[Boolean]("shared_within_bound")), s"shared bound failed at $d")
    }
  }

  test("overlap estimate is deterministic under recomputation") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Dedup.sourceOverlapKmvOf(docs).collect().toSeq
    val b = Dedup.sourceOverlapKmvOf(docs).collect().toSeq
    assert(a == b)
  }

  test("property: any adds + any merge tree == k smallest distinct (pure state, 300 cases)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      k <- Gen.choose(8, 96)
      n <- Gen.choose(0, 800)
      pool <- Gen.choose(16, 400)
      seed <- Gen.choose(0L, Long.MaxValue)
      splits <- Gen.choose(1, 6)
    } yield (k, n, pool, seed, splits)
    val prop = Prop.forAll(gen) { case (k, n, pool, seed, splits) =>
      val rng = new scala.util.Random(seed)
      // small pools force duplicates + evictions; occasional full-range
      // values exercise the unsigned extremes
      val vals = Seq.fill(n)(
        if (rng.nextInt(10) == 0) rng.nextLong()
        else new scala.util.Random(rng.nextInt(pool)).nextLong())
      val expected = vals.distinct.sortBy(h => h ^ Long.MinValue).take(k)
      // random partitioning into sub-states, merged pairwise in order
      val parts = vals.grouped(math.max(1, n / splits + 1)).toSeq
      val states = parts.map { p =>
        val s = new graft.functions.KmvState(k); p.foreach(s.add); s
      }
      val merged = states.reduceOption { (a, b) => a.mergeIn(b); a }
        .getOrElse(new graft.functions.KmvState(k))
      merged.sorted.toSeq == expected
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(r.passed, r.status.toString)
  }

  test("novelty gate row (r15): every boolean true at sf0.001 and sf0.01, " +
    "full ordered grid") {
    for (d <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val rows = Dedup.sourceNoveltyKmvVerified(spark, d).collect()
      val s = Tables.documents(spark, d).select("source").distinct().count()
      assert(rows.length == s * (s - 1), s"ordered grid incomplete at $d")
      assert(rows.forall(_.getAs[Boolean]("novel_within_bound")),
        s"novel bound failed at $d")
      assert(rows.forall(_.getAs[Boolean]("union_within_bound")),
        s"union bound failed at $d")
    }
  }

  test("novelty exact mode: unsaturated sketches give EXACT difference, " +
    "union, and novelty fraction") {
    // 3 sources over a tiny hash universe — every sketch holds its full
    // distinct set (k = 512 ≫ 40), so θ_pair = 1 and the estimators
    // must degrade to exact set algebra
    val sA = (0L until 30L).map(("sA", _))
    val sB = (15L until 40L).map(("sB", _)) // |B| = 25, A∩B = 15
    val sC = (100L until 110L).map(("sC", _)) // disjoint from both
    val ss = (sA ++ sB ++ sC).toDF("source", "shingle")
    val got = Dedup.kmvNoveltyOfHashes(ss).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        (r.getAs[Double]("est_novel_a"), r.getAs[Double]("est_union"),
          r.getAs[Double]("novelty_frac"))).toMap
    assert(got(("sA", "sB")) == ((15.0, 40.0, 15.0 / 30.0)))
    assert(got(("sB", "sA")) == ((10.0, 40.0, 10.0 / 25.0)))
    assert(got(("sA", "sC")) == ((30.0, 40.0, 1.0)))
    assert(got(("sC", "sB")) == ((10.0, 35.0, 1.0)))
    assert(got.size == 6, "ordered grid must hold all 6 pairs")
  }

  test("mix coverage (r15): exact on unsaturated sketches — relabel " +
    "union IS set union — and gate booleans true at sf0.001/sf0.01") {
    // tiny universe, k >> distinct: everything exact, so coverage is
    // literal set algebra against the union of the two mix sources
    val m1 = (0L until 20L).map(("mA", _))
    val m2 = (10L until 30L).map(("mB", _)) // union mix = 0..29 (30)
    val c1 = (20L until 40L).map(("sC", _)) // 10 covered, 10 novel
    val c2 = (100L until 105L).map(("sD", _)) // disjoint from mix
    val docsLike = (m1 ++ m2 ++ c1 ++ c2).toDF("source", "shingle")
      .withColumn("source",
        org.apache.spark.sql.functions.when(
          col("source").isin("mA", "mB"), "__mix")
          .otherwise(col("source")))
    val got = Dedup.kmvNoveltyOfHashes(docsLike).collect()
      .filter(_.getAs[String]("source_b") == "__mix")
      .map(r => r.getAs[String]("source_a") ->
        (r.getAs[Double]("est_novel_a"), r.getAs[Double]("est_union"),
          r.getAs[Double]("novelty_frac"))).toMap
    assert(got("sC") == ((10.0, 40.0, 0.5)))
    assert(got("sD") == ((5.0, 35.0, 1.0)))
    for (d <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val rows = Dedup.mixCoverageKmvVerified(spark, d).collect()
      assert(rows.length == 10, s"expected 10 candidate sources at $d")
      assert(rows.forall(_.getAs[Boolean]("novel_within_bound")),
        s"novel bound failed at $d")
      assert(rows.forall(_.getAs[Boolean]("union_within_bound")),
        s"union bound failed at $d")
    }
  }

  test("union-by-pooled-sketch law (VERDICT r15 #5): re-sketching the " +
    "members' pooled sk arrays equals relabel-before-aggregate, " +
    "SATURATED sketches included") {
    val S = 3
    val stream = spark.range(60000L).select(
      concat(lit("s"), col("id") % S).as("source"),
      when(expr("(id div 3) % 2") === 0, expr("(id div 6) % 4000"))
        .otherwise(lit(4000L) + (col("id") % S + 1) * 4000L +
          expr("(id div 6) % 4000")).as("key"))
      .select(col("source"), xxhash64(col("key")).as("shingle"))
    val members = Set("s0", "s1")
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .filter(_.getAs[String]("source_b") == "__u")
      .map(r => r.getAs[String]("source_a") ->
        (r.getAs[Double]("est_b"), r.getAs[Double]("est_novel_a"),
          r.getAs[Double]("est_union"), r.getAs[Double]("theta_pair"),
          r.getAs[Double]("novelty_frac"))).toMap
    // path A: relabel the RAW stream before the sketch aggregate
    val viaRelabel = rowsOf(Dedup.kmvNoveltyOfHashes(
      stream.withColumn("source",
        when(col("source").isInCollection(members), "__u")
          .otherwise(col("source")))))
    // path B: per-source sketches once, union POST-aggregate from the
    // pooled sk arrays — the single-corpus-scan path mixCoverageKmv runs
    val sum = Dedup.kmvSourceSummaries(stream)
    val viaPool = rowsOf(Dedup.kmvNoveltyOfSummaries(
      sum.filter(!col("source").isInCollection(members))
        .unionByName(Dedup.kmvUnionSummary(sum, members, "__u"))))
    assert(viaPool.nonEmpty && viaPool == viaRelabel,
      s"pooled-sk union must be BIT-identical to raw relabel:\n$viaPool\nvs\n$viaRelabel")
  }

  test("mix coverage degenerate + sentinel laws (ADVICE r15): a " +
    "single-source corpus yields an EMPTY frame on both the query and " +
    "its gate, and a source literally named __mix stays a candidate") {
    val tmp1 = tmpDir("mixdeg")
    Seq((0L, "a b c d e", "only")).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$tmp1/documents.parquet")
    val empty = Dedup.mixCoverageKmv(spark, tmp1)
    assert(empty.columns.toSeq == Seq("source", "theta_pair",
      "est_distinct", "est_mix", "est_novel", "est_union", "coverage_frac"))
    assert(empty.collect().isEmpty, "empty mix must yield an empty frame, not a crash")
    assert(Dedup.mixCoverageKmvVerified(spark, tmp1).collect().isEmpty)

    // sorted sources: AAA, BBB, ZZZ, __mix ('Z' < '_') → mix = {AAA, BBB};
    // "__mix" is a REAL source in the candidate half and must not merge
    // with the internal union label
    def text(lo: Int, hi: Int) = (lo until hi).map(i => s"w$i").mkString(" ")
    val tmp2 = tmpDir("mixcol")
    Seq(
      (0L, text(0, 30), "AAA"),
      (1L, text(15, 40), "BBB"),
      (2L, text(20, 50), "ZZZ"),
      (3L, text(0, 10), "__mix"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$tmp2/documents.parquet")
    val rows = Dedup.mixCoverageKmv(spark, tmp2).collect()
    assert(rows.map(_.getAs[String]("source")).toSeq == Seq("ZZZ", "__mix"))
    val m = rows.map(r => r.getAs[String]("source") -> r).toMap
    // unsaturated sketches → exact set algebra: __mix's 8 trigrams are
    // all inside AAA's; ZZZ has 28 trigrams, 18 covered by the mix union
    assert(m("__mix").getAs[Double]("est_novel") == 0.0)
    assert(m("__mix").getAs[Double]("coverage_frac") == 1.0)
    assert(m("ZZZ").getAs[Double]("est_novel") == 10.0)
    assert(m("ZZZ").getAs[Double]("coverage_frac") == 1.0 - 10.0 / 28.0)
    val ver = Dedup.mixCoverageKmvVerified(spark, tmp2).collect()
    assert(ver.map(_.getAs[String]("source")).sorted.toSeq ==
      Seq("ZZZ", "__mix").sorted)
    assert(ver.forall(r => r.getAs[Boolean]("novel_within_bound") &&
      r.getAs[Boolean]("union_within_bound")))
  }

  test("mix source-axis law (ADVICE r16): estimator, gate, and oracle " +
    "halve the SAME shingle-bearing axis under binary collation — an " +
    "all-short-doc source cannot shift the mix, and a non-BMP source " +
    "name sorts the engine way, not Java's UTF-16 way") {
    def text(lo: Int, hi: Int) = (lo until hi).map(i => s"w$i").mkString(" ")
    // "AAA" has only sub-3-token docs → absent from the shingle axis;
    // the axis is {MMM, ZZZ} → mix = {MMM}, candidates = {ZZZ}. Under
    // the old all-docs axis the gate would have picked mix = {AAA}
    // (empty shingle set) and disagreed with the estimator.
    val tmp1 = tmpDir("mixshort")
    Seq(
      (0L, "x y", "AAA"),
      (1L, text(0, 30), "MMM"),
      (2L, text(20, 50), "ZZZ"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$tmp1/documents.parquet")
    val est1 = Dedup.mixCoverageKmv(spark, tmp1).collect()
    assert(est1.map(_.getAs[String]("source")).toSeq == Seq("ZZZ"))
    // unsaturated → exact: ZZZ's 28 trigrams, 8 shared with MMM's 0..27
    assert(est1(0).getAs[Double]("est_novel") == 20.0)
    val ver1 = Dedup.mixCoverageKmvVerified(spark, tmp1).collect()
    assert(ver1.map(_.getAs[String]("source")).toSeq == Seq("ZZZ"))
    assert(ver1(0).getAs[Long]("exact_novel") == 20L)
    assert(ver1(0).getAs[Boolean]("novel_within_bound") &&
      ver1(0).getAs[Boolean]("union_within_bound"))

    // two sources whose order FLIPS between UTF-16 code-unit sort and
    // binary UTF-8 sort: U+FFFD (EF BF BD) < U+1F600 (F0 9F 98 80) in
    // bytes, but the surrogate pair D83D DE00 < FFFD in UTF-16 — so
    // Scala `.sorted` would put the emoji source in the mix while the
    // engine puts U+FFFD there. Estimator and gate must agree on the
    // ENGINE's choice.
    val sRepl = "z�"; val sEmoji = "z😀"
    assert(List(sRepl, sEmoji).sorted == List(sEmoji, sRepl),
      "precondition: Java UTF-16 order must differ from binary here")
    val tmp2 = tmpDir("mixbmp")
    Seq(
      (0L, text(0, 30), sRepl),
      (1L, text(20, 50), sEmoji))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$tmp2/documents.parquet")
    val est2 = Dedup.mixCoverageKmv(spark, tmp2).collect()
    assert(est2.map(_.getAs[String]("source")).toSeq == Seq(sEmoji),
      "mix must be the binary-collation first half {z\\uFFFD}")
    assert(est2(0).getAs[Double]("est_novel") == 20.0)
    val ver2 = Dedup.mixCoverageKmvVerified(spark, tmp2).collect()
    assert(ver2.map(_.getAs[String]("source")).toSeq == Seq(sEmoji))
    assert(ver2(0).getAs[Long]("exact_novel") == 20L)
    assert(ver2(0).getAs[Boolean]("novel_within_bound") &&
      ver2(0).getAs[Boolean]("union_within_bound"))
  }

  test("curve prefix-plan arms (VERDICT r16 #3): the dyadic " +
    "segment-halving plan returns the BIT-identical curve to the " +
    "rank-explode plan on both sides of the crossover") {
    val sA = (0L until 30L).map(("sA", _))
    val sB = (15L until 40L).map(("sB", _))
    val sC = (100L until 110L).map(("sC", _))
    val sD = (35L until 45L).map(("sD", _)) // 5 novel past sB's 40
    val ss = (sA ++ sB ++ sC ++ sD).toDF("source", "shingle")
    def rows(crossover: Long) =
      Dedup.coverageCurveOfHashes(ss, crossover = crossover).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("source"),
          r.getAs[Double]("est_union"), r.getAs[Double]("est_marginal")))
        .toList
    val explode = rows(Long.MaxValue) // forced explode arm
    val dyadic = rows(0L) // forced dyadic arm
    assert(explode == dyadic, s"arms differ:\n$explode\nvs\n$dyadic")
    // unsaturated ⇒ exact set unions: 30, +10, +10, +5
    assert(explode == List(
      (1L, "sA", 30.0, 30.0), (2L, "sB", 40.0, 10.0),
      (3L, "sC", 50.0, 10.0), (4L, "sD", 55.0, 5.0)))
    // and on SATURATED sketches (the estimation regime): same
    // bit-identity — this is the union-law composition under test
    val big = spark.range(30000L).select(
      concat(lit("s"), col("id") % 5).as("source"),
      xxhash64(when(expr("(id div 5) % 2") === 0, expr("id div 10"))
        .otherwise((col("id") % 5 + 1) * lit(100000L) + expr("id div 10")))
        .as("shingle"))
    big.persist(); big.count()
    def rowsBig(crossover: Long) =
      Dedup.coverageCurveOfHashes(big, crossover = crossover).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Double]("est_union"),
          r.getAs[Double]("est_marginal"))).toList
    val eBig = rowsBig(Long.MaxValue)
    val dBig = rowsBig(0L)
    big.unpersist()
    assert(eBig == dBig, "saturated-sketch curves must be BIT-identical")
    assert(eBig.length == 5)
  }

  test("novelty_frac NULL corner (VERDICT r15 #4): extreme theta " +
    "asymmetry can leave no A-sample below theta_pair — the frac is " +
    "NULL, est_novel_a is 0, and the union estimate still stands") {
    // B: 200k distinct uniform hashes → θ_b ≈ k/200k; A: 5 values at
    // the TOP of the unsigned order, so none survives below θ_pair
    val a = Seq(-1L, -2L, -3L, -4L, -5L).map(("sA", _))
    val b = spark.range(200000L)
      .select(lit("sB").as("source"), xxhash64(col("id")).as("shingle"))
    val got = a.toDF("source", "shingle").unionByName(b)
    val rows = Dedup.kmvNoveltyOfHashes(got).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) -> r)
      .toMap
    val ab = rows(("sA", "sB"))
    assert(ab.isNullAt(ab.fieldIndex("novelty_frac")),
      "no surviving A-sample must yield NULL novelty_frac, not 0.0")
    assert(ab.getAs[Double]("est_novel_a") == 0.0)
    val union = ab.getAs[Double]("est_union")
    assert(math.abs(union - 200000.0) < 200000 * 0.2,
      s"union estimate must still track |B|: $union")
    // the reverse direction is untouched by the corner: B's novelty vs
    // the 5-element A is ~1
    val ba = rows(("sB", "sA"))
    assert(!ba.isNullAt(ba.fieldIndex("novelty_frac")))
    assert(ba.getAs[Double]("novelty_frac") > 0.99)
  }

  test("coverage curve (r16): exact on unsaturated sketches — the " +
    "lexicographic prefix unions ARE set unions — and gate booleans " +
    "true at sf0.001/sf0.01") {
    val sA = (0L until 30L).map(("sA", _))
    val sB = (15L until 40L).map(("sB", _)) // adds 10 novel (30..39) → union 40
    val sC = (100L until 110L).map(("sC", _)) // adds 10 novel → union 50
    val got = Dedup.coverageCurveOfHashes(
        (sA ++ sB ++ sC).toDF("source", "shingle")).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("source"),
        r.getAs[Double]("est_union"), r.getAs[Double]("est_marginal")))
      .toList
    assert(got == List(
      (1L, "sA", 30.0, 30.0),
      (2L, "sB", 40.0, 10.0),
      (3L, "sC", 50.0, 10.0)))
    for (d <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val rows = Dedup.coverageCurveKmvVerified(spark, d).collect()
      assert(rows.length == 20, s"expected 20 curve points at $d")
      assert(rows.forall(_.getAs[Boolean]("union_within_bound")),
        s"union bound failed at $d")
      assert(rows.forall(_.getAs[Boolean]("marginal_within_bound")),
        s"marginal bound failed at $d")
      // the curve is a cumulative union: exact_union non-decreasing,
      // last point = the whole corpus's distinct mass
      val unions = rows.sortBy(_.getAs[Long]("k")).map(_.getAs[Long]("exact_union"))
      assert(unions.zip(unions.tail).forall { case (a, b) => b >= a })
    }
  }

  test("novelty estimator laws under saturation: union symmetric, " +
    "inclusion-exclusion consistent with the overlap estimator, " +
    "deterministic under recomputation") {
    // big enough that every sketch saturates (k = 512 < 5000 distinct)
    val S = 4
    val stream = spark.range(80000L).select(
      concat(lit("s"), col("id") % S).as("source"),
      // 1/4 shared pool, 3/4 per-source private (the sweep's recipe)
      when(expr("(id div 4) % 4") === 0, expr("(id div 16) % 5000"))
        .otherwise(lit(5000L) + (col("id") % S + 1) * 5000L +
          expr("(id div 16) % 5000")).as("key"))
      .select(col("source"), xxhash64(col("key")).as("shingle"))
    val rows = Dedup.kmvNoveltyOfHashes(stream).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        (r.getAs[Double]("est_novel_a"), r.getAs[Double]("est_union"),
          r.getAs[Double]("theta_pair"))).toMap
    assert(rows.size == S * (S - 1))
    for (((a, b), (novelAb, unionAb, thetaAb)) <- rows) {
      val (novelBa, unionBa, thetaBa) = rows((b, a))
      assert(unionAb == unionBa, s"union must be symmetric for ($a,$b)")
      assert(thetaAb == thetaBa)
      // |A∖B| + |A∩B| = |A| holds EXACTLY on the sample counts, so
      // novel_a + shared must equal n_a/θ — recover shared from the
      // two directed rows: union = novel_a + novel_b + shared
      val shared = unionAb - novelAb - novelBa
      assert(shared >= 0.0, s"negative implied intersection for ($a,$b)")
    }
    val again = Dedup.kmvNoveltyOfHashes(stream).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Double]("est_novel_a")).toMap
    assert(rows.map { case (k, v) => k -> v._1 } == again,
      "novelty estimates must be recompute-deterministic")
  }

  test("sketch union law: merge of disjoint-source sketches = sketch of union") {
    val k = 64
    val rng = new scala.util.Random(11)
    val xs = Seq.fill(1000)(rng.nextLong())
    val ys = Seq.fill(1000)(rng.nextLong())
    val merged = sketchOf(xs ++ ys, k, parts = 5)
    // merging the two standalone sketches by re-aggregating their
    // retained values must give the identical sketch: the k smallest
    // of (k smallest of A) ∪ (k smallest of B) = k smallest of A ∪ B
    val viaParts = sketchOf(sketchOf(xs, k, 2) ++ sketchOf(ys, k, 2), k, parts = 3)
    assert(merged == viaParts)
  }
}
