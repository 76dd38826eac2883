package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tools.Amplify.{bytesPolicy, mults, timed}

/** THE scale-sweep driver (VERDICT r15 #6: the per-round ScaleR7–R16
  * accumulation folded into one parameterized main; SCALE.md's
  * historical rows stay valid as records without their generators
  * staying compilable forever). One mode per live question:
  *
  *  - `novelty` — the Theta difference/union estimators over
  *    equal-mass synthetic streams with closed-form ground truth
  *    (per-source distinct 2000·mult, every pairwise intersection
  *    1000·mult ⇒ novelty 1000·mult, union 3000·mult), every ordered
  *    pair asserted inside the verified gate's binomial-thinning
  *    bounds. Carried verbatim from the r15 sweep.
  *  - `noveltyskew` (VERDICT r15 #4) — the same estimators at SKEWED
  *    source masses spanning 3 orders of magnitude (the θ_pair =
  *    min(θ_a, θ_b) stressed regime: one huge + one tiny source
  *    drives the tiny side's below-θ_pair sample toward zero — the
  *    scaladoc'd "θ_b ≪ θ_a" corner). Closed-form truth via a shared
  *    pool + per-source private ranges; same 6σ assertion; null
  *    `novelty_frac` rows are COUNTED and reported, never unboxed
  *    (ADVICE r15: `getAs[Double]` on a null unboxes to 0.0 and
  *    fails the wrong assertion with a misleading message).
  *  - `bitext` — exact-vs-IVF A/B for the per-source margin miner
  *    over planted-pair corpora (measured recall per octave; the
  *    `BitextIvfFloor` calibration table). Carried from r15.
  *  - `bitextivf` (VERDICT r15 #3) — the shortlist arm ALONE, one to
  *    two octaves past where the exact arm's all-pairs cross became
  *    unaffordable (789 s at ×32 = 64 k vectors, r15). Recall is
  *    asserted against the PLANTED truth (pair (2i, 2i+1) per
  *    concept) — the planted-pair corpus was designed for exactly
  *    this handoff. Answers: does shortlist time grow
  *    sub-quadratically?
  *  - `bitextmu` (VERDICT r15 #2) — exact-mutual vs IVF-mutual A/B
  *    for the bidirectional rule: times, pair counts, recall of the
  *    shortlist form against exact-mutual AND against planted truth.
  *    The `BitextMutualIvfFloor` calibration table.
  *  - `ppskeyed` — `sample_pps` through the keyed running-sum arm
  *    (the 100 TB plan shape) at amplified octaves, fold-equality
  *    against the forced-window arm. Carried from r15.
  *  - `curve` (VERDICT r16 #3) — the coverage curve's two prefix-plan
  *    arms (rank-explode S²·k/2 vs dyadic S·k·log₂S) at growing
  *    SOURCE counts with closed-form truth (priv·p + shared per
  *    prefix), asserting bit-identical curves where both arms run and
  *    KMV bounds everywhere. Octave = the source count S.
  *  - `mixcov` (VERDICT r16 #5) — the single-scan `mix_coverage`
  *    estimator at equal-mass octaves (kmvStream truth: novel =
  *    1000·mult, union = 12000·mult per candidate) plus one skewed
  *    round (skewStream truth), asserting the 6σ bounds and
  *    reporting sketch time (expected FLAT in the mult: the rewrite's
  *    +3 model-sized jobs are constant while the saved corpus scan
  *    grows).
  *  - `smoke` — the manual scale smoke: the corpus amplified `mult`×
  *    (default 20) with shifted ids, then the operators whose scaling
  *    SCALE.md claims (exact dedup, minhash / span scrub on the
  *    exact-dedup survivors, simhash, gopher gates, PII scrub,
  *    nb_classify, DSIR, LSH bucket keys), one timed line each;
  *    SCALE_SMOKE_FULL=1 adds the raw quadratic minhash and the
  *    boilerplate-hot ngram plain-vs-prefix head-to-head. Runs at the
  *    32 shuffle partitions its recorded rows used.
  *  - `bitextivf` additionally A/Bs the CAPPED k-means training
  *    sample (VERDICT r16 #4, `IvfTrainCap` via `nKnown`) against the
  *    uncapped trainer, same planted-recall floor on both arms;
  *    SCALE_ARMS=capped|uncapped|both (default both) bounds the cost.
  *
  * `sbt "runMain graft.tools.Scale <mode>"`; octaves via
  * SCALE_MULTS (comma-separated). Unknown modes fail loud. Results
  * land in SCALE.md.
  */
object Scale {

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    // Spark's default 200 shuffle partitions, as the recorded sweeps ran
    val spark = graft.GraftSession.builder("graft-scale", s"local[$cpus]", 200).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val modes: Map[String, (SparkSession, String) => Unit] = Map(
      "novelty" -> novelty, "noveltyskew" -> noveltySkew,
      "bitext" -> bitext, "bitextivf" -> bitextIvfOnly,
      "bitextmu" -> bitextMutual, "ppskeyed" -> ppsKeyed,
      "curve" -> curve, "mixcov" -> mixCov, "smoke" -> smoke)
    val which = args.headOption.getOrElse("novelty")
    require(modes.contains(which),
      s"unknown mode '$which' — expected ${modes.keys.toSeq.sorted.mkString("|")}")
    modes(which)(spark, d)
    spark.stop()
  }

  /** Equal-mass synthetic stream (the r15 `kmv`/`novelty` recipe):
    * 20 sources, 1/4 of draws from a common pool, 3/4 per-source
    * private, draw index never wrapping — per-source distinct exactly
    * 2000·mult, every pairwise intersection exactly 1000·mult. */
  private def kmvStream(spark: SparkSession, mult: Int,
      sources: Int): DataFrame = {
    val S = sources
    val rows = 80000L * mult
    val pool = 12500L * mult
    spark.range(rows).select(
      concat(lit("src"), (col("id") % S)).as("source"),
      when(expr(s"(id div $S) % 4") === 0,
        expr(s"(id div ${S * 4}) % $pool"))
        .otherwise(lit(pool) + (col("id") % S + 1) * pool +
          expr(s"(id div ${S * 4}) % $pool"))
        .as("key"))
      .select(col("source"), xxhash64(col("key")).as("shingle"))
  }

  private def thetaBound(exact: Double, theta: Double): Double =
    6.0 * math.sqrt(exact * math.max(1.0 / theta - 1.0, 0.0)) + 8.0

  // ------------------------------------------------------- novelty --

  private def novelty(spark: SparkSession, d: String): Unit = {
    import graft.dedup.Dedup
    val S = 20
    Dedup.sourceNoveltyKmv(spark, d).collect() // warmup: JIT + codegen
    for (mult <- mults("SCALE_MULTS", Seq(16, 256, 1024))) {
      val rows = 80000L * mult
      val parts = bytesPolicy(spark, rows, 32L)
      val stream = kmvStream(spark, mult, S)
      val (est, tSketch) = timed(Dedup.kmvNoveltyOfHashes(stream).collect())
      require(est.length == S * (S - 1),
        s"estimator dropped ordered pairs at mult=$mult: ${est.length}")
      val exactNovel = 1000.0 * mult
      val exactUnion = 3000.0 * mult
      var worstNovel = 0.0; var worstUnion = 0.0
      est.foreach { r =>
        val theta = r.getAs[Double]("theta_pair")
        val novel = r.getAs[Double]("est_novel_a")
        val union = r.getAs[Double]("est_union")
        worstNovel = math.max(worstNovel,
          math.abs(novel - exactNovel) / thetaBound(exactNovel, theta))
        worstUnion = math.max(worstUnion,
          math.abs(union - exactUnion) / thetaBound(exactUnion, theta))
        require(math.abs(novel - exactNovel) <= thetaBound(exactNovel, theta),
          s"novelty estimate out of bound at mult=$mult: $novel vs $exactNovel")
        require(math.abs(union - exactUnion) <= thetaBound(exactUnion, theta),
          s"union estimate out of bound at mult=$mult: $union vs $exactUnion")
        // null-safe read (ADVICE r15): a null would unbox to 0.0 under
        // getAs[Double] and trip the interior check with a lying message
        val fi = r.fieldIndex("novelty_frac")
        require(!r.isNullAt(fi),
          s"novelty_frac must be non-null for half-shared equal-mass pools at mult=$mult")
        val frac = r.getDouble(fi)
        require(frac > 0.0 && frac < 1.0,
          s"novelty_frac must be interior for half-shared pools: $frac")
      }
      println(f"[scale-novelty] mult=$mult%5d rows=$rows%10d " +
        f"parts=$parts%4d exact_novel=$exactNovel%11.0f " +
        f"exact_union=$exactUnion%11.0f sketch_s=$tSketch%7.2f " +
        f"worst_novel_bound_frac=$worstNovel%5.3f " +
        f"worst_union_bound_frac=$worstUnion%5.3f")
    }
  }

  // --------------------------------------------------- noveltyskew --

  /** Skewed-mass stream with closed-form truth: source i holds a
    * PRIVATE range of `massOf(i)·mult` keys plus a SHARED pool of
    * `50·mult` keys common to all sources, each key emitted exactly
    * once (the sketch dedups anyway). Masses span 3 orders of
    * magnitude (100/1k/10k/100k per unit mult), so θ_pair between the
    * extremes is set by the big side and the tiny side's surviving
    * sample is near-empty — the stressed regime.
    * Truth: |A_i| = m_i + p, |A_i ∖ A_j| = m_i, |A_i ∪ A_j| =
    * m_i + m_j + p. */
  private val SkewMasses = Seq(100L, 1000L, 10000L, 100000L)

  private def skewStream(spark: SparkSession, mult: Int): DataFrame = {
    val p = 50L * mult
    val shared = spark.range(p).select(lit(0L).as("src"), col("id").as("key"))
    val frames = SkewMasses.zipWithIndex.map { case (m, i) =>
      spark.range(m * mult).select(lit(i.toLong).as("src"),
        // private key space: disjoint per source and from the pool
        (lit(1000000000L) * (i + 1) + col("id")).as("key"))
        .unionByName(shared.select(lit(i.toLong).as("src"), col("key")))
    }
    frames.reduce(_ unionByName _)
      .select(concat(lit("src"), col("src")).as("source"),
        xxhash64(col("key")).as("shingle"))
  }

  private def noveltySkew(spark: SparkSession, d: String): Unit = {
    import graft.dedup.Dedup
    Dedup.sourceNoveltyKmv(spark, d).collect() // warmup
    for (mult <- mults("SCALE_MULTS", Seq(16, 64, 256))) {
      val p = 50L * mult
      val rows = (SkewMasses.sum + SkewMasses.length * 50L) * mult
      val parts = bytesPolicy(spark, rows, 32L)
      val (est, tSketch) = timed(
        Dedup.kmvNoveltyOfHashes(skewStream(spark, mult)).collect())
      val S = SkewMasses.length
      require(est.length == S * (S - 1),
        s"estimator dropped ordered pairs at mult=$mult: ${est.length}")
      var worstNovel = 0.0; var worstUnion = 0.0; var nullFracs = 0
      est.foreach { r =>
        val ia = r.getAs[String]("source_a").stripPrefix("src").toInt
        val ib = r.getAs[String]("source_b").stripPrefix("src").toInt
        val exactNovel = (SkewMasses(ia) * mult).toDouble
        val exactUnion = ((SkewMasses(ia) + SkewMasses(ib)) * mult + p).toDouble
        val theta = r.getAs[Double]("theta_pair")
        val novel = r.getAs[Double]("est_novel_a")
        val union = r.getAs[Double]("est_union")
        worstNovel = math.max(worstNovel,
          math.abs(novel - exactNovel) / thetaBound(exactNovel, theta))
        worstUnion = math.max(worstUnion,
          math.abs(union - exactUnion) / thetaBound(exactUnion, theta))
        require(math.abs(novel - exactNovel) <= thetaBound(exactNovel, theta),
          s"skew novelty out of bound at mult=$mult ($ia,$ib): " +
            s"$novel vs $exactNovel (theta=$theta)")
        require(math.abs(union - exactUnion) <= thetaBound(exactUnion, theta),
          s"skew union out of bound at mult=$mult ($ia,$ib): " +
            s"$union vs $exactUnion (theta=$theta)")
        if (r.isNullAt(r.fieldIndex("novelty_frac"))) nullFracs += 1
      }
      println(f"[scale-noveltyskew] mult=$mult%5d rows=$rows%10d " +
        f"parts=$parts%4d masses=${SkewMasses.map(_ * mult).mkString("/")}%s " +
        f"pool=$p%d sketch_s=$tSketch%7.2f " +
        f"worst_novel_bound_frac=$worstNovel%5.3f " +
        f"worst_union_bound_frac=$worstUnion%5.3f null_fracs=$nullFracs%d")
    }
  }

  // -------------------------------------------------------- bitext --

  /** PLANTED-PAIR vector corpus for the bitext A/Bs. Straight
    * id-shifted copy amplification is WRONG for a margin miner: every
    * vector gains near-identical copies, the kNN means saturate at
    * ~the top cosine, margins collapse toward 1 and the mined set
    * goes EMPTY (measured r15: 160 pairs at ×2, 0 at ×8 on
    * copy-amplified sf0.01). A margin sweep needs bitext STRUCTURE
    * that survives scale: concept i gets an even vector 2i and an odd
    * vector 2i+1, both = the concept's deterministic hash-derived
    * base ± per-vector noise (signal rms ~0.58/component vs noise
    * 0.12), so the true pair's cosine ≈ 0.95 stands out of the
    * ~N(0, 1/√dim) background at ANY corpus size. Fully deterministic
    * (xxhash64-derived components) and the PLANTED truth is known. */
  private def plantedVecs(spark: SparkSession, mult: Int): DataFrame = {
    val dim = 32
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def unit(c: org.apache.spark.sql.Column) = // signed hash → [-1, 1]
      (c % 1000003L).cast("double") / lit(1000003.0)
    spark.range(2000L * mult).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        unit(xxhash64(concat_ws("_", expr("id div 2"), j))) +
          lit(0.12) * unit(xxhash64(concat_ws("#", col("id"), j)))).as("v"))
      .repartition(parts, col("vec_id"))
  }

  private def pairSet(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
    rows.map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("tgt_id"))).toSet

  /** Exact-vs-IVF A/B for the per-source margin miner: per octave,
    * the all-pairs cross (the measured cliff) against the shortlist
    * form at occupancy-constant geometry (nlist = 16·mult,
    * softAssign = 3), with measured recall of the shortlist miner
    * against the exact pair set. The `BitextIvfFloor` calibration
    * table. */
  private def bitext(spark: SparkSession, d: String): Unit = {
    import graft.similarity.Similarity
    Similarity.mineBitext(spark, d).collect() // warmup: JIT + codegen
    for (mult <- mults("SCALE_MULTS", Seq(2, 8, 32))) {
      val n = 2000L * mult
      val parts = bytesPolicy(spark, n * n / 2, 30L) // scored-pairs frame
      val all = plantedVecs(spark, mult)
      all.persist()
      all.count()
      val (exact, tExact) = timed(
        Similarity.mineBitextExactOf(all).collect())
      val exactPairs = pairSet(exact)
      val planted = exactPairs.count { case (s, t) => t == s + 1 }
      val (ivf, tIvf) = timed(
        Similarity.mineBitextIvfOf(spark, all,
          nlist = 16 * mult, softAssign = 3).collect())
      val ivfPairs = pairSet(ivf)
      val recall = (exactPairs & ivfPairs).size.toDouble / exactPairs.size
      println(f"[scale-bitext] mult=$mult%4d vecs=$n%9d parts=$parts%5d " +
        f"exact_pairs=${exactPairs.size}%7d planted=$planted%7d " +
        f"exact_s=$tExact%8.2f ivf_pairs=${ivfPairs.size}%7d " +
        f"ivf_s=$tIvf%8.2f recall=$recall%6.4f " +
        f"floor=${Similarity.BitextIvfFloor}%4.2f")
      require(exactPairs.nonEmpty, s"exact miner empty at mult=$mult")
      require(recall >= Similarity.BitextIvfFloor,
        f"IVF recall $recall%.4f under the floor at mult=$mult")
      all.unpersist()
    }
  }

  /** The shortlist arm ALONE, past the exact arm's affordability
    * cliff (VERDICT r15 #3): recall asserted against PLANTED truth —
    * the fraction of concepts whose true pair (2i, 2i+1) the miner
    * recovers. Sub-quadratic growth of `ivf_s` across octaves is the
    * claim under test. */
  private def bitextIvfOnly(spark: SparkSession, d: String): Unit = {
    import graft.similarity.Similarity
    Similarity.mineBitextIvf(spark, d).collect() // warmup
    val arms = sys.env.getOrElse("SCALE_ARMS", "both")
    for (mult <- mults("SCALE_MULTS", Seq(64, 128))) {
      val n = 2000L * mult
      val concepts = n / 2
      val parts = bytesPolicy(spark, n * 200L, 30L) // shortlist pairs, not n²
      val all = plantedVecs(spark, mult)
      all.persist()
      all.count()
      // uncapped = the r15/r16 full-corpus trainer; capped = the
      // absolute training-sample cap (VERDICT r16 #4, IvfTrainCap via
      // nKnown); hier = the two-level quantizer front (r17: the term
      // left after the cap is the flat quantizer's n·nlist assignment)
      def flat(nKnown: Long) = () => Similarity.mineBitextIvfOf(spark, all,
        nlist = 16 * mult, softAssign = 3, nKnown = nKnown)
      val hier = () => Similarity.mineBitextHierOf(spark, all, n,
        nlist = 16 * mult)
      val armList: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
        arms match {
          case "capped"   => Seq(("capped", flat(n)))
          case "uncapped" => Seq(("uncapped", flat(-1L)))
          case "hier"     => Seq(("hier", hier))
          case "all"      => Seq(("uncapped", flat(-1L)), ("capped", flat(n)),
                                 ("hier", hier))
          case _          => Seq(("uncapped", flat(-1L)), ("capped", flat(n)))
        }
      for ((arm, mk) <- armList) {
        val (ivf, tIvf) = timed(mk().collect())
        val ivfPairs = pairSet(ivf)
        val plantedFound = ivfPairs.count { case (s, t) => t == s + 1 }
        val plantedRecall = plantedFound.toDouble / concepts
        println(f"[scale-bitextivf] mult=$mult%4d vecs=$n%9d parts=$parts%5d " +
          f"arm=$arm%-8s concepts=$concepts%8d ivf_pairs=${ivfPairs.size}%8d " +
          f"planted_found=$plantedFound%8d ivf_s=$tIvf%8.2f " +
          f"planted_recall=$plantedRecall%6.4f " +
          f"floor=${Similarity.BitextIvfFloor}%4.2f")
        require(plantedRecall >= Similarity.BitextIvfFloor,
          f"planted recall $plantedRecall%.4f under the floor at mult=$mult ($arm)")
      }
      all.unpersist()
    }
  }

  // --------------------------------------------------------- curve --

  /** Curve stream with closed-form truth: S sources (zero-padded names
    * so lexicographic rank = numeric id), each holding `priv` private
    * keys plus a `shared` pool common to ALL sources ⇒
    * exact_union(p) = p·priv + shared; marginal(1) = priv + shared,
    * marginal(p>1) = priv. */
  private def curveStream(spark: SparkSession, s: Int,
      priv: Long, shared: Long): DataFrame = {
    val privs = spark.range(s * priv).select(
      expr(s"id div $priv").as("sid"),
      (lit(shared) + col("id")).as("key"))
    val pools = spark.range(s * shared).select(
      expr(s"id div $shared").as("sid"), (col("id") % shared).as("key"))
    privs.unionByName(pools).select(
      concat(lit("src"), lpad(col("sid").cast("string"), 5, "0")).as("source"),
      xxhash64(col("key")).as("shingle"))
  }

  /** Explode-vs-dyadic A/B for the coverage curve's prefix-union plan
    * (VERDICT r16 #3) at growing SOURCE counts. The explode arm's
    * S²·k/2 pooled rows are the bounded quantity under test; the
    * dyadic arm must return the BIT-identical curve (asserted where
    * both run — the union-law composition) in O(S·k·log₂S). Octave =
    * S; SCALE_ARMS=dyadic skips the explode arm past its
    * affordability cliff. */
  private def curve(spark: SparkSession, d: String): Unit = {
    import graft.dedup.Dedup
    val priv = 2000L; val shared = 1000L
    Dedup.coverageCurveKmv(spark, d).collect() // warmup: JIT + codegen
    val relBound = 6.0 / math.sqrt(510.0) // KmvK = 512
    for (s <- mults("SCALE_MULTS", Seq(128, 512, 2048))) {
      val rows = s * (priv + shared)
      val parts = bytesPolicy(spark, rows, 16L)
      val stream = curveStream(spark, s, priv, shared)
      stream.persist(); stream.count()
      def check(label: String, got: Array[org.apache.spark.sql.Row],
          t: Double): Unit = {
        require(got.length == s, s"curve dropped prefixes at S=$s: ${got.length}")
        var worst = 0.0
        got.foreach { r =>
          val p = r.getAs[Long]("k")
          val exact = (p * priv + shared).toDouble
          val est = r.getAs[Double]("est_union")
          worst = math.max(worst,
            math.abs(est - exact) / (exact * relBound + 8.0))
          require(math.abs(est - exact) <= exact * relBound + 8.0,
            s"union estimate out of bound at S=$s p=$p: $est vs $exact")
        }
        println(f"[scale-curve] S=$s%5d rows=$rows%9d parts=$parts%4d " +
          f"arm=$label%-8s curve_s=$t%7.2f worst_bound_frac=$worst%5.3f")
      }
      val runExplode = sys.env.getOrElse("SCALE_ARMS", "both") != "dyadic"
      val explodeRows: Option[List[(Long, String, Double, Double)]] =
        if (!runExplode) None else {
          val (got, t) = timed(Dedup.coverageCurveOfHashes(stream,
            crossover = Long.MaxValue).collect()) // forced explode arm
          check("explode", got, t)
          Some(got.map(r => (r.getAs[Long]("k"), r.getAs[String]("source"),
            r.getAs[Double]("est_union"), r.getAs[Double]("est_marginal"))).toList)
        }
      val (gotD, tD) = timed(Dedup.coverageCurveOfHashes(stream,
        crossover = 0L).collect()) // forced dyadic arm
      check("dyadic", gotD, tD)
      val dyadicRows = gotD.map(r => (r.getAs[Long]("k"),
        r.getAs[String]("source"), r.getAs[Double]("est_union"),
        r.getAs[Double]("est_marginal"))).toList
      explodeRows.foreach { e =>
        require(e == dyadicRows,
          s"arms must return BIT-identical curves at S=$s")
      }
      stream.unpersist()
    }
  }

  // -------------------------------------------------------- mixcov --

  /** The single-scan mix-coverage estimator at octaves (VERDICT r16
    * #5): equal-mass rounds over [[kmvStream]] (candidate truth:
    * distinct 2000·mult, novel 1000·mult, mix union 11000·mult, union
    * 12000·mult — the first-half-lexicographic mix holds the shared
    * pool plus 10 disjoint private ranges) and one SKEWED round over
    * [[skewStream]] (mix {src0, src1} ⇒ exact_mix = 1150·mult;
    * candidates keep their full private mass as novelty). Asserts the
    * 6σ thinning bounds on novel/union and the per-source KMV law on
    * distinct/mix; sketch time is reported and expected FLAT — the
    * r16 single-scan rewrite's +3 model-sized jobs are a constant
    * while the corpus scan they replace grows with mult. */
  private def mixCov(spark: SparkSession, d: String): Unit = {
    import graft.dedup.Dedup
    val S = 20
    Dedup.mixCoverageKmv(spark, d).collect() // warmup
    val relBound = 6.0 / math.sqrt(510.0) // KmvK = 512
    for (mult <- mults("SCALE_MULTS", Seq(16, 256, 1024))) {
      val rows = 80000L * mult
      val parts = bytesPolicy(spark, rows, 32L)
      val (est, tSketch) = timed(
        Dedup.mixCoverageOfHashes(kmvStream(spark, mult, S)).collect())
      require(est.length == S / 2,
        s"expected ${S / 2} candidate rows at mult=$mult: ${est.length}")
      var worstNovel = 0.0; var worstUnion = 0.0
      est.foreach { r =>
        val theta = r.getAs[Double]("theta_pair")
        val exactNovel = 1000.0 * mult
        val exactUnion = 12000.0 * mult
        val novel = r.getAs[Double]("est_novel")
        val union = r.getAs[Double]("est_union")
        worstNovel = math.max(worstNovel,
          math.abs(novel - exactNovel) / thetaBound(exactNovel, theta))
        worstUnion = math.max(worstUnion,
          math.abs(union - exactUnion) / thetaBound(exactUnion, theta))
        require(math.abs(novel - exactNovel) <= thetaBound(exactNovel, theta),
          s"mix novelty out of bound at mult=$mult: $novel vs $exactNovel")
        require(math.abs(union - exactUnion) <= thetaBound(exactUnion, theta),
          s"mix union out of bound at mult=$mult: $union vs $exactUnion")
        require(math.abs(r.getAs[Double]("est_distinct") - 2000.0 * mult) <=
          2000.0 * mult * relBound + 8.0, s"candidate distinct off at mult=$mult")
        require(math.abs(r.getAs[Double]("est_mix") - 11000.0 * mult) <=
          11000.0 * mult * relBound + 8.0, s"mix-union distinct off at mult=$mult")
      }
      println(f"[scale-mixcov] mult=$mult%5d rows=$rows%10d parts=$parts%4d " +
        f"candidates=${est.length}%3d sketch_s=$tSketch%7.2f " +
        f"worst_novel_bound_frac=$worstNovel%5.3f " +
        f"worst_union_bound_frac=$worstUnion%5.3f")
    }
    // one skewed round: masses 100/1k/10k/100k per mult, pool 50·mult,
    // mix = {src0, src1} under the lexicographic halving
    for (mult <- mults("SCALE_MULTS_SKEW", Seq(64))) {
      val p = 50L * mult
      val (est, tSketch) = timed(
        Dedup.mixCoverageOfHashes(skewStream(spark, mult)).collect())
      require(est.length == 2, s"expected 2 skew candidates: ${est.length}")
      est.foreach { r =>
        val i = r.getAs[String]("source").stripPrefix("src").toInt
        val m = SkewMasses(i) * mult
        val exactMix = (SkewMasses(0) + SkewMasses(1)) * mult + p
        val theta = r.getAs[Double]("theta_pair")
        val novel = r.getAs[Double]("est_novel")
        val union = r.getAs[Double]("est_union")
        require(math.abs(novel - m.toDouble) <= thetaBound(m.toDouble, theta),
          s"skew novelty out of bound at mult=$mult src$i: $novel vs $m")
        require(math.abs(union - (m + exactMix - p).toDouble) <=
          thetaBound((m + exactMix - p).toDouble, theta),
          s"skew union out of bound at mult=$mult src$i")
        require(math.abs(r.getAs[Double]("est_mix") - exactMix.toDouble) <=
          exactMix * relBound + 8.0, s"skew mix-union off at mult=$mult")
      }
      println(f"[scale-mixcov-skew] mult=$mult%5d " +
        f"masses=${SkewMasses.map(_ * mult).mkString("/")}%s pool=$p%d " +
        f"sketch_s=$tSketch%7.2f all-bounds=green")
    }
  }

  /** Exact-mutual vs IVF-mutual A/B (VERDICT r15 #2): the
    * bidirectional rule's shortlist arm must beat the broadcast cross
    * while keeping recall above `BitextMutualIvfFloor` — measured
    * against exact-mutual AND against planted truth. */
  private def bitextMutual(spark: SparkSession, d: String): Unit = {
    import graft.similarity.Similarity
    Similarity.mineBitextMutual(spark, d).collect() // warmup
    for (mult <- mults("SCALE_MULTS", Seq(2, 8, 16))) {
      val n = 2000L * mult
      val concepts = n / 2
      val parts = bytesPolicy(spark, n * n / 2, 30L)
      val all = plantedVecs(spark, mult)
      all.persist()
      all.count()
      val (exact, tExact) = timed(
        Similarity.bitextMutualTail(
          Similarity.bitextExactScoredOf(all)).collect())
      val exactPairs = pairSet(exact)
      val plantedExact = exactPairs.count { case (s, t) => t == s + 1 }
      val (ivf, tIvf) = timed(
        Similarity.mineBitextMutualIvfOf(spark, all,
          nlist = 16 * mult, softAssign = 3).collect())
      val ivfPairs = pairSet(ivf)
      val plantedIvf = ivfPairs.count { case (s, t) => t == s + 1 }
      val recall = (exactPairs & ivfPairs).size.toDouble / exactPairs.size
      println(f"[scale-bitextmu] mult=$mult%4d vecs=$n%9d parts=$parts%5d " +
        f"exact_pairs=${exactPairs.size}%7d planted_exact=$plantedExact%7d " +
        f"exact_s=$tExact%8.2f ivf_pairs=${ivfPairs.size}%7d " +
        f"planted_ivf=$plantedIvf%7d ivf_s=$tIvf%8.2f recall=$recall%6.4f " +
        f"planted_recall=${plantedIvf.toDouble / concepts}%6.4f " +
        f"floor=${Similarity.BitextMutualIvfFloor}%4.2f")
      require(exactPairs.nonEmpty, s"exact mutual miner empty at mult=$mult")
      require(recall >= Similarity.BitextMutualIvfFloor,
        f"mutual IVF recall $recall%.4f under the floor at mult=$mult")
      all.unpersist()
    }
  }

  // ------------------------------------------------------ ppskeyed --

  /** `sample_pps` through the KEYED running-sum arm. At bench scale
    * the gate routes the registered query to the window arm; the
    * keyed path — the 100 TB shape: per-source W through the bucketed
    * running sum with `totalOut` — is driven here at an amplified
    * octave. The amplified frame's join lineage derives an untrusted
    * estimate, so the −1 default takes the keyed arm (plan-asserted
    * via `range_bucket`); the A/B reference is the SAME operator with
    * `inputBytes` forced under the envelope (the window arm — a
    * genuinely different physical plan with spec-proven equal
    * semantics). Asserts exactly PpsPerSource picks per source and
    * row-set equality between the arms. */
  private def ppsKeyed(spark: SparkSession, d: String): Unit = {
    import graft.text.TextAnalysis
    val baseRows = graft.Tables.documents(spark, d).count()
    for (mult <- mults("SCALE_MULTS", Seq(4096))) {
      val rows = baseRows * mult
      val parts = bytesPolicy(spark, rows, 40L)
      val docs = Amplify.amplifiedDocStats(spark, d, mult)
        .select(col("doc_id"), col("source"), col("n_tokens"))
      docs.persist()
      val n = docs.count()
      val keyedQ = TextAnalysis.samplePpsOf(docs)
      val keyedPlan = keyedQ.queryExecution.executedPlan.toString
      require(keyedPlan.contains("range_bucket"),
        s"amplified lineage must take the keyed arm:\n$keyedPlan")
      val (keyed, tKeyed) = timed(keyedQ.collect())
      val perSource = keyed.groupBy(_.getAs[String]("source"))
        .view.mapValues(_.length).toMap
      require(perSource.values.forall(_ == TextAnalysis.PpsPerSource),
        s"pick counts off at mult=$mult: $perSource")
      val (win, tWin) = timed(
        TextAnalysis.samplePpsOf(docs, inputBytes = BigInt(1)).collect())
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("cum"), r.getAs[Long]("w_total"),
          r.getAs[Long]("pick_idx"))
      val mismatches = (keyed.map(key).toSet diff win.map(key).toSet).size +
        (win.map(key).toSet diff keyed.map(key).toSet).size
      println(f"[scale-ppskeyed] mult=$mult%5d rows=$n%9d " +
        f"parts=$parts%4d sources=${perSource.size}%3d " +
        f"picks=${keyed.length}%4d keyed_s=$tKeyed%7.2f " +
        f"window_s=$tWin%7.2f mismatches=$mismatches%d")
      require(mismatches == 0, "keyed and window arms must agree row-for-row")
      docs.unpersist()
    }
  }

  // --------------------------------------------------------- smoke --

  private def smoke(spark: SparkSession, d: String): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    def time(name: String)(f: => Long): Unit = {
      val (n, s) = timed(f)
      println(f"[scale-smoke] $name%-40s $s%8.2f s  ($n rows)")
    }
    def survivors(docs: DataFrame): DataFrame = docs.groupBy("text")
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "text")
    for (mult <- mults("SCALE_MULTS", Seq(20))) {
      val docs = Amplify.amplifiedDocs(spark, d, mult).cache()
      val nDocs = docs.count()
      println(s"[scale-smoke] mult=$mult docs=$nDocs")
      // The amplified corpus makes EVERY doc a `mult`-way exact duplicate —
      // the adversarial hot-shingle case: ~mult²/2 true pairs per text, so
      // exact near-dup verification is output-bound by construction.
      // The production composition: exact dedup first (collapses identical
      // texts in one cheap hash aggregate), near-dup only on survivors.
      time("dedup_exact (amplified)")(survivors(docs).count())
      time("minhash on exact-dedup survivors") {
        graft.dedup.Dedup.minhashLshOf(survivors(docs)).count()
      }
      if (sys.env.contains("SCALE_SMOKE_FULL")) {
        // the raw quadratic case, for the record (output ~ mult² × planted)
        time("dedup_minhash (no pre-dedup)")(graft.dedup.Dedup.minhashLshOf(docs).count())
        // Hot-shingle head-to-head on the shape prefix filtering is built
        // for: DISSIMILAR docs sharing boilerplate (license-header style).
        // The boilerplate shingles appear in every doc, so the plain
        // inverted join emits ~|boilerplate| × n²/2 candidate pairs that
        // all fail verification, while the frequency ordering evicts
        // exactly those shingles from every prefix. (A corpus of true
        // duplicates is NOT this case — there the output itself is
        // quadratic and no candidate filter can help.)
        val boiler = " copyright notice all rights reserved this document" +
          " is provided as is without warranty of any kind express or implied"
        val bdocs = graft.Tables.documents(spark, d).limit(5000)
          .withColumn("text", concat(col("text"), lit(boiler)))
        time("ngram plain (boilerplate-hot)")(graft.dedup.Dedup.ngramJaccardOf(bdocs).count())
        time("ngram prefix-filtered (boilerplate-hot)") {
          graft.dedup.Dedup.ngramJaccardPrefixOf(bdocs).count()
        }
      }
      time("simhash fingerprints")(graft.dedup.Dedup.simhashFingerprints(docs).count())
      // scan-bandwidth stages: force the expensive columns through an
      // aggregate (a bare count would prune them away)
      time("gopher gates (amplified)") {
        graft.text.TextAnalysis.gopherGatesOf(docs)
          .agg(sum(col("dup_tri_frac")), sum(col("top_bigram_frac"))).collect(); nDocs
      }
      time("pii scrub (amplified)") {
        graft.text.TextAnalysis.piiScrubOf(docs)
          .agg(sum(col("red_len")), sum(col("n_emails"))).collect(); nDocs
      }
      // span_scrub on the raw amplification is adversarial by
      // construction (every 5-gram is a mult-way cross-doc duplicate →
      // ~all positions covered); the production composition scrubs
      // AFTER exact dedup, same as minhash.
      time("span_scrub on exact-dedup survivors") {
        graft.dedup.Dedup.spanScrubOf(survivors(docs))
          .agg(sum(col("n_scrubbed"))).collect(); nDocs
      }
      time("nb_classify (amplified)") {
        graft.text.TextAnalysis.nbClassifyOf(docs.withColumn("lang",
          concat(lit("l"), (col("doc_id") % 5).cast("string")))).count()
      }
      time("dsir score+resample (amplified)") {
        graft.text.TextAnalysis.dsirResampleOf(docs.withColumn("source",
          concat(lit("src"), (col("doc_id") % 20).cast("string")))).count()
      }
      val embeddings = Amplify.amplified(graft.Tables.embeddings(spark, d), "vec_id", mult)
        .cache()
      println(s"[scale-smoke] vectors=${embeddings.count()}")
      time("lsh bucket keys (all vecs)") {
        embeddings.select(col("vec_id"), graft.functions.LshBucketKeysExpr.column(
          col("embedding").cast("array<double>"), Array.fill(32, 64)(0.5), 4)).count()
      }
      docs.unpersist()
      embeddings.unpersist()
    }
  }
}
