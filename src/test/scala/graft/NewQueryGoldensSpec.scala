package graft

import org.apache.spark.sql.functions._
import graft.functions.MinHashAgg

/** Hand-computed goldens and partitioning-invariance checks for the
  * round-2 query surface — properties the DuckDB oracle proves at
  * sf0.01 but that deserve a pinpoint regression test on inputs small
  * enough to verify by hand. */
class NewQueryGoldensSpec extends SparkSpec {
  import spark.implicits._

  test("sample_det: identical rows for any input partitioning") {
    def keys(parts: Int) = Tables.orders(spark, sf0001)
      .repartition(parts)
      .filter((col("o_orderkey") % 2147483647L) * 48271L % 2147483647L
        * 48271L % 2147483647L < 107374182L)
      .select("o_orderkey").as[Long].collect().toSet
    val a = keys(1)
    assert(a.nonEmpty)
    assert(keys(13) === a)
  }

  test("bpe_train: hand-traced two-round merge table; greedy overlap; dry-out stop") {
    val docs = Seq(
      (1L, "a b a b c"), // round 1: (a,b)x2 here
      (2L, "a b x")      //          (a,b) again → top (a,b,3)
    ).toDF("doc_id", "text")
    // round 1 rewrites to "a@@b a@@b c" / "a@@b x"; round 2's non-self
    // pairs: (a@@b,c)=1 and (a@@b,x)=1 — tie broken by b asc → c.
    // ((a@@b,a@@b) is a self-pair: excluded from selection.)
    val got = graft.text.TextAnalysis.bpeTrainOf(spark, docs, merges = 2)
      .as[(Long, String, String, Long)].collect().toList
    assert(got === List((1L, "a", "b", 3L), (2L, "a@@b", "c", 1L)))

    // greedy-overlap semantics on back-to-back occurrences: "a b a b a"
    // fuses positions (0,1) and (2,3), leaving the trailing a — so the
    // round-2 top pair is (a@@b, a@@b)... which is a SELF-pair, leaving
    // only (a@@b, a): the rewrite must have produced exactly 2 fusions
    val g2 = graft.text.TextAnalysis.bpeTrainOf(spark,
      Seq((1L, "a b a b a")).toDF("doc_id", "text"), merges = 2)
      .as[(Long, String, String, Long)].collect().toList
    assert(g2 === List((1L, "a", "b", 2L), (2L, "a@@b", "a", 1L)))

    // a corpus with ONLY self-pairs can't merge: the table is empty,
    // not an exception, and the loop stops before `merges`
    val g3 = graft.text.TextAnalysis.bpeTrainOf(spark,
      Seq((1L, "a a a")).toDF("doc_id", "text"), merges = 3)
      .collect()
    assert(g3.isEmpty)
  }

  test("bpe_encode: rewritten corpus equals the hand-traced merge application") {
    val docs = Seq(
      (1L, "a b a b c"), // after (a,b) then (a@@b,c): [a@@b, a@@b@@c]
      (2L, "a b x"),     // [a@@b@@c? no — (a@@b,x) lost the tie] → [a@@b, x]
      (3L, "z")          // untouched single token rides through
    ).toDF("doc_id", "text")
    // round 1 merges (a,b); round 2's candidates (a@@b,a@@b) self-pair
    // excluded, (a@@b,c)=1 vs (a@@b,x)=1 tie → c by pair asc
    val got = graft.text.TextAnalysis.bpeEncodeOf(spark, docs, merges = 2)
      .as[(Long, Long, Long, String)].collect().toList
    assert(got === List(
      (1L, 2L, 2L, "a@@b a@@b@@c"),
      (2L, 2L, 1L, "a@@b x"),
      (3L, 1L, 0L, "z")))

    // dry-out: merges beyond exhaustion leave the corpus state as-is
    val g2 = graft.text.TextAnalysis.bpeEncodeOf(spark,
      Seq((1L, "a a a")).toDF("doc_id", "text"), merges = 3)
      .as[(Long, Long, Long, String)].collect().toList
    assert(g2 === List((1L, 3L, 0L, "a a a")))
  }

  test("bpe_pair_counts: hand-counted pairs, occurrence (not per-doc) semantics") {
    val docs = Seq(
      (1L, "a b a b"),   // pairs: "a b", "b a", "a b"  — "a b" twice IN ONE DOC
      (2L, "a b c"),     // pairs: "a b", "b c"
      (3L, "x")          // single token: no pairs
    ).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.bpePairCountsOf(docs)
      .as[(String, Long)].collect().toList
    // count desc, then pair asc
    assert(got === List(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("corpus_shuffle: dense 1..N positions, invariant to partitioning") {
    def run(parts: Int) =
      graft.text.TextAnalysis.corpusShuffleOf(
        Tables.documents(spark, sf0001).repartition(parts))
        .select("doc_id", "pos").as[(Long, Long)].collect().toList
    val a = run(1)
    assert(a.map(_._2) === (1L to a.length.toLong).toList, "positions dense & sorted")
    assert(run(13) === a, "same order for any input partitioning")
  }

  test("dedup_incremental: planted history dup, in-batch dup, unique") {
    // "batch" = source src0; history doc 1 duplicates batch doc 10;
    // batch docs 20/21 duplicate each other; batch doc 30 is unique.
    // Texts need >= 3 tokens (trigram shingles) and j >= 0.8.
    val dup1 = "the quick brown fox jumps over the lazy dog again today"
    val dup2 = "entirely different words that repeat verbatim across batch members ok"
    val docs = Seq(
      (1L, "hist", dup1),
      (2L, "hist", "some unrelated historical document content goes right here"),
      (10L, "src0", dup1),
      (20L, "src0", dup2),
      (21L, "src0", dup2),
      (30L, "src0", "a genuinely novel batch document unlike anything before")
    ).toDF("doc_id", "source", "text")
    val got = graft.dedup.Dedup.dedupIncrementalOf(docs, "src0")
      .as[(Long, String, Option[Long])].collect().toList
    assert(got === List(
      (10L, "dup_of_history", Some(1L)),
      (20L, "unique", None),          // keep-first: no EARLIER batch match
      (21L, "dup_in_batch", Some(20L)),
      (30L, "unique", None)))
  }

  test("source_drift: hand-computed total-variation on a 2-source corpus") {
    // A: "a a b" (T_s=3), B: "b c" (T_s=2); corpus a:2 b:2 c:1 (T=5)
    // TV_A = ½(|2/3−2/5| + |1/3−2/5| + |0−1/5|) = 4/15
    // TV_B = ½(|0−2/5| + |1/2−2/5| + |1/2−1/5|) = 2/5
    val docs = Seq((1L, "A", "a a b"), (2L, "B", "b c"))
      .toDF("doc_id", "source", "text")
    val got = graft.text.TextAnalysis.sourceDriftOf(docs)
      .select("source", "n_terms", "t_s", "tv_drift")
      .as[(String, Long, Long, Double)].collect().toList
    assert(got.map(r => (r._1, r._2, r._3)) === List(("A", 2L, 3L), ("B", 2L, 2L)))
    assert(math.abs(got(0)._4 - 4.0 / 15) < 1e-15, s"TV_A = ${got(0)._4}")
    assert(math.abs(got(1)._4 - 2.0 / 5) < 1e-15, s"TV_B = ${got(1)._4}")
  }

  test("sample_det mix never overflows ANSI arithmetic at huge key scales") {
    // raw Knuth multiply (key * 2654435761) leaves long range past
    // ~3.4e9; the Lehmer pre-mod mix must keep working up there
    val huge = Seq(3500000000L, Long.MaxValue, Long.MaxValue - 1).toDF("o_orderkey")
    val n = huge
      .filter((col("o_orderkey") % 2147483647L) * 48271L % 2147483647L
        * 48271L % 2147483647L < 107374182L)
      .count()
    assert(n >= 0) // executing without an ANSI overflow error is the assertion
  }

  test("deterministic sampling mixes small keys too (no un-wrapped prefix)") {
    // one Lehmer step leaves k < ~44k below the modulus: the sample
    // would then be "every key below the threshold/48271" — a prefix,
    // not a sample. Two steps must select a scattered subset.
    val small = (1L to 2000L).toDF("o_orderkey")
    val picked = small
      .filter((col("o_orderkey") % 2147483647L) * 48271L % 2147483647L
        * 48271L % 2147483647L < 107374182L)
      .select("o_orderkey").as[Long].collect().sorted
    assert(picked.nonEmpty && picked.length < 400,
      s"~5% of 2000 expected, got ${picked.length}")
    assert(picked.last > 1000, "sample must reach into the upper key range")
    assert(picked.head > 1 || picked.length < 100, "not a dense prefix")
  }

  test("corpus_mix: identical kept set for any input partitioning") {
    def kept(parts: Int) = {
      val docs = Tables.documents(spark, sf0001).repartition(parts)
      graft.text.TextAnalysis.corpusMixOf(docs)
        .select("doc_id").as[Long].collect().toSet
    }
    val a = kept(1)
    assert(a.nonEmpty)
    assert(kept(13) === a)
  }

  test("mm_meta golden: doc 0's decoded pixel sum equals the closed form") {
    // dims(0) = (8, 8); gray(x,y) = (7x + 13y) mod 256 — small enough
    // to hand-sum: sum over 8x8 = 64*0 + 7*(0..7 sums)... compute here
    val expected = (for (y <- 0 until 8; x <- 0 until 8)
      yield (x * 7 + y * 13) % 256).sum.toLong
    val row = graft.multimodal.Multimodal.mmMeta(spark, sf0001)
      .filter(col("doc_id") === 0L)
      .select("width", "height", "px_sum")
      .as[(Int, Int, Long)].collect().head
    assert(row === ((8, 8, expected)))
  }

  test("customer_rfm_approx: buckets balanced and close to exact quartiles") {
    val exact = queries.Extended.customerRfm(spark, sf0001)
      .select("o_custkey", "m_q").as[(Long, Long)].collect().toMap
    val approx = queries.Extended.customerRfmApprox(spark, sf0001)
      .select("o_custkey", "m_q").as[(Long, Long)].collect().toMap
    assert(approx.keySet === exact.keySet)
    val n = exact.size
    // each approx bucket holds roughly a quarter (sketch accuracy 1e4
    // on a small corpus ⇒ boundaries are near-exact; ties at the
    // boundary may shift a few rows)
    (1L to 4L).foreach { q =>
      val share = approx.values.count(_ == q).toDouble / n
      assert(share > 0.15 && share < 0.35, s"bucket $q share $share")
    }
    // and the assignments mostly agree with the exact NTILE
    val agree = exact.count { case (k, v) => approx(k) == v }.toDouble / n
    assert(agree > 0.9, s"only ${agree * 100}%% of assignments agree")
  }

  test("tfidf: hand-computed scores on a 3-doc corpus") {
    val docs = Seq(
      (1L, "apple banana apple"), // tf(apple)=2, banana in 2 docs
      (2L, "banana cherry"),
      (3L, "cherry cherry date")).toDF("doc_id", "text")
    val terms = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(n)
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .select("doc_id", "term", "score")
      .as[(Long, String, Double)].collect()
      .map { case (d, t, s) => (d, t) -> s }.toMap
    // apple: df=1 → tf*3/1; banana: df=2 → tf*3/2; cherry: df=2
    assert(scored((1L, "apple")) === 6.0)   // tf 2 × 3 / 1
    assert(scored((1L, "banana")) === 1.5)  // tf 1 × 3 / 2
    assert(scored((3L, "cherry")) === 3.0)  // tf 2 × 3 / 2
    assert(scored((3L, "date")) === 3.0)    // tf 1 × 3 / 1
  }

  test("window_frames golden: 5 orders for one customer") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val orders = Seq(
      (1L, "2026-01-01", 10.0), (2L, "2026-01-02", 20.0), (3L, "2026-01-03", 30.0),
      (4L, "2026-01-04", 40.0), (5L, "2026-01-05", 50.0))
      .toDF("o_orderkey", "d", "o_totalprice")
      .select(lit(7L).as("o_custkey"), col("o_orderkey"),
        col("d").cast("date").as("o_orderdate"), col("o_totalprice"))
    val tp = col("o_totalprice").cast(DecimalType(18, 2))
    val wo = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val w3 = wo.rowsBetween(-3, Window.currentRow)
    val got = orders.select(col("o_orderkey"),
        sum(tp).over(w3).cast("double").as("mov_sum"),
        count(lit(1)).over(w3).as("mov_n"),
        (tp - lag(tp, 1, 0).over(wo)).cast("double").as("delta"),
        percent_rank().over(wo).as("pr"))
      .as[(Long, Double, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq === Seq(10.0, 30.0, 60.0, 100.0, 140.0)) // 4-row frame
    assert(got.map(_._3).toSeq === Seq(1L, 2L, 3L, 4L, 4L))
    assert(got.map(_._4).toSeq === Seq(10.0, 10.0, 10.0, 10.0, 10.0))
    assert(got.map(_._5).toSeq === Seq(0.0, 0.25, 0.5, 0.75, 1.0))
  }

  test("minhash_bands: identical docs identical keys; 32 keys; near-dups collide") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy cat again and again"),
      (2L, "completely different words nothing shared at all here truly"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val bands = graft.dedup.Dedup.hashedShingles(docs)
      .withColumn("h", expr("shingle & 4294967295"))
      .groupBy("doc_id").agg(MinHashAgg.column(col("h"), MinHashAgg.DefaultA,
        MinHashAgg.DefaultB, MinHashAgg.DefaultBands).as("bks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(bands(0L).length === 32)
    assert(bands(0L) === bands(3L)) // identical docs → identical band keys
    // near-dups (1 token differs) share at least one band at 32×4
    assert(bands(0L).zip(bands(1L)).exists { case (a, b) => a == b })
    // unrelated docs share no band (4 exact minima agreeing is ~impossible)
    assert(!bands(0L).zip(bands(2L)).exists { case (a, b) => a == b })
  }

  test("text_gopher golden: hand-counted repetition fractions") {
    // doc 0: "a b a b a b" — bigrams (5): [a b]x3, [b a]x2 → top = 3,
    //   top_bigram_frac = 6/6 = 1.0; trigrams (4): [a b a]x2, [b a b]x2
    //   → all duplicated, dup_tri_frac = 4/4 = 1.0 → gate fails
    // doc 1: "v w x y z" — all n-grams unique → fracs 4/5·... top bigram
    //   = 1 → 2/5 = 0.4 > 0.2 (short docs are top-heavy by construction),
    //   dup_tri_frac = 0
    // doc 2: "q" — no bigrams/trigrams → 0.0, gate passes
    val docs = Seq(
      (0L, "a b a b a b"),
      (1L, "v w x y z"),
      (2L, "q")).toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.gopherGatesOf(docs)
      .select("doc_id", "n_tri", "dup_tri_frac", "top_bigram_n",
        "top_bigram_frac", "gopher_ok")
      .as[(Long, Long, Double, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(0L) === ((0L, 4L, 1.0, 3L, 1.0, false)))
    assert(out(1L) === ((1L, 3L, 0.0, 1L, 0.4, false)))
    assert(out(2L) === ((2L, 0L, 0.0, 0L, 0.0, true)))
  }

  test("pii_scrub golden: planted PII is found and fully masked") {
    val docs = Seq((42L, "hello world")).toDF("doc_id", "text")
    val row = graft.text.TextAnalysis.piiScrubOf(docs)
      .select("n_emails", "n_phones", "n_ips", "red_len")
      .as[(Long, Long, Long, Long)].collect().head
    // planted: ' contact user42@mail0.com or 555-0042 from 10.42.38.34'
    assert(row._1 === 1L && row._2 === 1L && row._3 === 1L)
    // full redaction: the only way red_len equals the hand-written
    // masked string's length is if every planted token was replaced
    val expected = "hello world contact <EMAIL> or <PHONE> from <IP>"
    assert(row._4 === expected.length.toLong)
  }

  test("embed_quantize golden: exact codes, saturation, and the zero-vector guard") {
    val vs = Seq(
      (0L, Seq(1.0, -1.0, 0.5)),   // scale = 1/127 → codes 127, -127, 64 (0.5*127 = 63.5 rounds up)
      (1L, Seq(0.0, 0.0, 0.0)))    // zero vector → guard: codes all 0, scale 0
      .toDF("vec_id", "v")
    val out = graft.similarity.Similarity.embedQuantizeOf(vs)
      .select("vec_id", "scale", "q_sum", "q_l1", "q_max")
      .as[(Long, Double, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) === ((0L, 1.0 / 127.0, 64L, 318L, 127L)))
    assert(out(1L) === ((1L, 0.0, 0L, 0L, 0L)))
  }

  test("embed_label_sim golden: hand-computed centroid cosine") {
    // label 0: vectors (1,0) and (0,1) → centroid (0.5, 0.5)
    // label 1: vectors (2,0) and (2,0) → centroid (2, 0)
    // cos = (0.5·2) / (sqrt(0.5)·2) = 1/sqrt(2)
    val vs = Seq(
      (0L, 0, Seq(1.0, 0.0)), (1L, 0, Seq(0.0, 1.0)),
      (2L, 1, Seq(2.0, 0.0)), (3L, 1, Seq(2.0, 0.0)))
      .toDF("vec_id", "label", "v")
    val row = graft.similarity.Similarity.embedLabelSimOf(vs)
      .select("label_a", "label_b", "cos_sim")
      .as[(Int, Int, Double)].collect()
    assert(row.length === 1)
    assert(row.head._1 === 0 && row.head._2 === 1)
    assert(math.abs(row.head._3 - 1.0 / math.sqrt(2.0)) < 1e-15)
  }
}
