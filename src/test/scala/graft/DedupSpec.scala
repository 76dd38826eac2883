package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.{MinHashAgg, MinHashBandsRowExpr}

/** Sketch-operator properties the SQL oracle can't check. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog again and again"
  private val docANear = "the quick brown fox jumps over the lazy cat again and again"
  private val docB = "completely different words nothing shared at all here truly"

  private def docs = Seq(
    (0L, docA), (1L, docANear), (2L, docB), (3L, docA))
    .toDF("doc_id", "text")

  private def signatures = Dedup.minhashSignatures(docs).collect()
    .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("identical docs get identical minhash signatures; disjoint docs differ") {
    val sig = signatures
    assert(sig(0L) === sig(3L))
    assert(sig(0L) !== sig(2L))
    assert(sig(0L).length === 128)
  }

  test("per-row band kernel emits bit-identical keys to the aggregate path") {
    val corpus = Tables.documents(spark, sf0001)
    val aggKeys = Dedup.hashedShingles(corpus)
      .withColumn("h", expr("shingle & 4294967295"))
      .groupBy("doc_id").agg(MinHashAgg.column(col("h"), MinHashAgg.DefaultA,
        MinHashAgg.DefaultB, MinHashAgg.DefaultBands).as("bks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val rowKeys = corpus
      .select(col("doc_id"), MinHashBandsRowExpr.column(col("text")).as("bks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // agg path has no group for shingle-less docs; row path emits empty
    assert(rowKeys.keySet === corpus.select("doc_id").as[Long].collect().toSet)
    aggKeys.foreach { case (id, ks) => assert(rowKeys(id) === ks, s"doc $id") }
    (rowKeys.keySet -- aggKeys.keySet).foreach(id => assert(rowKeys(id).isEmpty))
  }

  test("row-kernel LSH dedup equals the aggregate-path result") {
    val corpus = Tables.documents(spark, sf0001)
    val a = Dedup.minhashLshOf(corpus).collect().map(_.toString).sorted.toSeq
    val b = Dedup.minhashLshRowOf(corpus).collect().map(_.toString).sorted.toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("minhash signature similarity tracks Jaccard") {
    val sig = signatures
    def agree(x: Seq[Long], y: Seq[Long]): Double =
      x.zip(y).count { case (a, b) => a == b }.toDouble / x.length
    // near-dup pair: most shingles shared → high signature agreement
    assert(agree(sig(0L), sig(1L)) > 0.5)
    // unrelated pair: no shared shingles → near-zero agreement
    assert(agree(sig(0L), sig(2L)) < 0.1)
  }

  test("identical docs → simhash Hamming 0; near-dups close; unrelated far") {
    val fp = Dedup.simhashFingerprints(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(0L), fp(3L)) === 0)
    assert(ham(fp(0L), fp(1L)) < ham(fp(0L), fp(2L)))
  }

  test("prefix-filtered jaccard equals the exhaustive inverted join") {
    val corpus = Tables.documents(spark, sf0001)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val plain = pairs(Dedup.ngramJaccardOf(corpus))
    val prefixed = pairs(Dedup.ngramJaccardPrefixOf(corpus))
    assert(plain.nonEmpty)
    assert(prefixed === plain) // prefix filter: recall exactly 1 at t=0.8
  }

  test("simhash-verified equals the exhaustive jaccard join (recall 1 here)") {
    val corpus = Tables.documents(spark, sf0001)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = pairs(Dedup.ngramJaccardOf(corpus))
    val verified = pairs(Dedup.simhashVerified(spark, sf0001))
    assert(exact.nonEmpty)
    // the gate passes exactly when the 8×8-bit band net recalls every
    // exact >=0.8 pair — equality IS the recall assertion
    assert(verified === exact)
  }

  test("containment catches an embedded doc that Jaccard misses") {
    val short = "alpha beta gamma delta epsilon zeta"
    val long = s"intro words before the quote $short and plenty of trailing " +
      "commentary words that dilute the symmetric overlap measure badly " +
      "more and more filler tokens here to keep jaccard low"
    val df = Seq((1L, short), (2L, long), (3L, "unrelated text entirely " +
      "different tokens nothing shared with either document")).toDF("doc_id", "text")
    val cont = Dedup.containmentOf(df).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(cont === Set((1L, 2L)), "the embedded short doc must be flagged")
    val jac = Dedup.ngramJaccardOf(df).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)), "symmetric Jaccard must miss it (that's the point)")
  }

  test("shingles: doc shorter than n tokens contributes nothing") {
    val sh = Dedup.shingles(Seq((9L, "one two")).toDF("doc_id", "text"))
    assert(sh.count() === 0)
  }

  test("shingles are distinct trigram strings") {
    val sh = Dedup.shingles(Seq((1L, "a b a b a b")).toDF("doc_id", "text"))
      .select("shingle").as[String].collect().sorted
    assert(sh.toSeq === Seq("a b a", "b a b"))
  }

  test("clusterLabels: components, singletons, and a multi-round chain") {
    val nodes = (1L to 10L).toDF("doc_id")
    // triangle {1,2,3}; pair {5,6}; chain 7-8-9-10 whose min label needs
    // several propagation rounds to reach the far end; 4 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L),
      (7L, 8L), (8L, 9L), (9L, 10L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusterLabels(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 7L, 10L -> 7L)
    assert(got === want)
  }

  test("clusterLabels: pointer-doubling closes a 256-chain in O(log n) rounds") {
    // plain min-label propagation needs ~255 rounds on this graph; the
    // L(L(v)) shortcut doubles the reach each round — 9 measured, pin
    // a small margin. Labels must still be the component minimum.
    val n = 256L
    val chain = (1L until n).map(i => (i, i + 1))
    val (labels, rounds) = Dedup.clusterLabelsWithRounds(
      (1L to n).toDF("doc_id"), chain.toDF("doc_a", "doc_b"))
    assert(labels.as[(Long, Long)].collect().toMap ===
      (1L to n).map(_ -> 1L).toMap)
    assert(rounds <= 10, s"pointer doubling needed $rounds rounds on a ${n}-chain")
  }

  test("clusterLabels: empty pair set leaves every doc its own cluster") {
    val nodes = (1L to 5L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val got = Dedup.clusterLabels(nodes, pairs).as[(Long, Long)].collect().toMap
    assert(got === (1L to 5L).map(i => i -> i).toMap)
  }

  test("clusterLabels matches a union-find reference on random graphs") {
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map((1L to n.toLong).map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // compress to the minimum id per component
      (1L to n.toLong).map(i => i -> find(i)).toMap
    }
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { _ =>
      val n = 20 + rnd.nextInt(20)
      val edges = Seq.fill(rnd.nextInt(25))(
        (1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      val got = Dedup.clusterLabels(
          (1L to n.toLong).toDF("doc_id"), edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(got === unionFind(n, edges), s"n=$n edges=$edges")
    }
  }

  test("clusterLabelsStar matches union-find on random graphs and label propagation on a chain") {
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map((1L to n.toLong).map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (1L to n.toLong).map(i => i -> find(i)).toMap
    }
    val rnd = new scala.util.Random(23)
    (1 to 3).foreach { _ =>
      val n = 20 + rnd.nextInt(20)
      val edges = Seq.fill(rnd.nextInt(25))(
        (1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      val got = Dedup.clusterLabelsStar(
          (1L to n.toLong).toDF("doc_id"), edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(got === unionFind(n, edges), s"n=$n edges=$edges")
    }
    // the case star contraction exists for: a 256-node chain has
    // diameter 255 (label propagation: ~255 rounds) but star
    // contraction closes it in O(log n) alternating rounds
    val n = 256L
    val chain = (1L until n).map(i => (i, i + 1))
    val (labels, rounds) = Dedup.clusterLabelsStarWithRounds(
      (1L to n).toDF("doc_id"), chain.toDF("doc_a", "doc_b"))
    assert(labels.as[(Long, Long)].collect().toMap ===
      (1L to n).map(_ -> 1L).toMap)
    assert(rounds <= 12, s"star contraction needed $rounds rounds on a ${n}-chain")
  }

  test("native shingle_hashes equals the built-in HOF pipeline bit-for-bit") {
    val corpus = Tables.documents(spark, sf0001).select("doc_id", "text")
    val edge = Seq(
      (9001L, ""), (9002L, " "), (9003L, "a b"), (9004L, "a b c"),
      (9005L, "a  b   c d"),            // runs of spaces → empty tokens
      (9006L, " leading and trailing "),
      (9007L, "päivää тест 言葉 emoji🙂 mix a b"), // multi-byte UTF-8
      (9008L, "dup dup dup dup dup"))   // repeated shingles → distinct
      .toDF("doc_id", "text")
    for (df <- Seq(corpus, edge); n <- Seq(2, 3)) {
      val native = Dedup.hashedShingles(df, n)
        .as[(Long, Long)].collect().toSet
      val hof = Dedup.hashedShinglesHof(df, n)
        .as[(Long, Long)].collect().toSet
      assert(native === hof, s"n=$n divergence")
    }
    // n = 1 emits raw token hashes — the SimHash feature primitive
    for (df <- Seq(corpus, edge)) {
      val native = Dedup.hashedShingles(df, 1)
        .as[(Long, Long)].collect().toSet
      val builtin = df
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("t"))
        .select(col("doc_id"), xxhash64(col("t")).as("h"))
        .as[(Long, Long)].collect().toSet
      assert(native === builtin, "n=1 divergence from distinct-token xxhash64")
    }
  }

  test("dedupCorpus: exact copies, near-dups, and uniques end to end") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val near = base.replace("tonight", "today") // high trigram overlap
    val docs = Seq(
      (1L, base), (2L, base),          // exact copies → survivor 1
      (3L, near),                      // near-dup of 1 → same cluster, dropped
      (4L, "completely different text about distributed query engines and shuffles here"),
      (5L, "completely different text about distributed query engines and shuffles here"),
      (6L, "an unrelated singleton document speaking of nothing in particular at all"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(docs).select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L, 6L))
  }

  test("digest-keyed exact dedup equals text-keyed exact dedup") {
    val byText = Dedup.exactSurvivors(spark, sf0001)
      .as[(Long, Long)].collect().toSeq
    val byHash = Dedup.exactHashSurvivors(spark, sf0001)
      .as[(Long, Long)].collect().toSeq
    assert(byText === byHash)
  }

  test("survivorQuality keeps the longest cluster member, not the smallest id") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    // 15 -> 18 tokens: 13 shared trigrams / 16 total = 0.8125 >= 0.8
    val longer = base + " with extra tokens"
    val docs = Seq(
      (1L, base),
      (2L, longer),                    // longest member of cluster 1 → survivor
      (3L, "an unrelated singleton document speaking of nothing in particular at all"))
      .toDF("doc_id", "text")
    val out = Dedup.survivorQualityOf(docs)
      .select("cluster_id", "survivor_id", "survivor_tokens", "n_docs")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 2L, 18L, 2L))) // min-id cluster label, max-length survivor
    assert(out(3L) === ((3L, 3L, 11L, 1L)))
  }

  test("splitLeakage = cross-split subset of ngramJaccard, oriented val-first") {
    val corpus = Tables.documents(spark, sf0001)
    def side(id: Long): String = {
      val m = graft.functions.DetMix.Modulus
      val mixed = (id % m) * graft.functions.DetMix.Multiplier % m *
        graft.functions.DetMix.Multiplier % m
      if (mixed < m * 9L / 10L) "train" else "val"
    }
    val pairs = Dedup.ngramJaccardOf(corpus)
      .as[(Long, Long, Double)].collect().toSeq
    val expected = pairs
      .filter { case (a, b, _) => side(a) != side(b) }
      .map { case (a, b, j) => if (side(a) == "val") (a, b, j) else (b, a, j) }
      .sortBy(r => (r._1, r._2))
    val got = Dedup.splitLeakageOf(corpus)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === expected)
    got.foreach { case (v, t, j) =>
      assert(side(v) == "val" && side(t) == "train" && j >= 0.8)
    }
    assert(got.nonEmpty) // sf0.001 plants enough near-dups to cross the cut
  }

  test("splitByCluster: zero cross-split leakage where the doc-hash split leaks") {
    val corpus = Tables.documents(spark, sf0001)
    val split = Dedup.splitByCluster(spark, sf0001)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(split.values.toSet === Set("train", "val")) // both sides populated
    // every >= 0.8 near-dup pair must land inside one split — leakage is
    // structurally zero, not statistically small
    val pairs = Dedup.ngramJaccardOf(corpus)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.nonEmpty)
    val crossing = pairs.filter { case (a, b, _) => split(a) != split(b) }
    assert(crossing.isEmpty,
      s"near-dup pairs cross the cluster-aware split: $crossing")
    // contrast: the doc-hash split leaks on the SAME corpus (the audit
    // operator's raison d'etre)
    assert(Dedup.splitLeakageOf(corpus).count() > 0)
  }

  test("applyChangesOf: newest wins, tombstones drop, inserts land, no-ops ignored") {
    val base = Seq(
      (1L, "s1", "keep me"),
      (2L, "s1", "revise me"),
      (3L, "s2", "delete me"),
      (4L, "s2", "resurrect me"),
      (5L, "s1", "doomed late"))
      .toDF("doc_id", "source", "text")
    // changelog deliberately OUT OF ORDER: the seq, not arrival order,
    // must decide
    val changes = Seq(
      (5L, 2L, "delete", null, null),                  // upsert then delete → gone
      (2L, 1L, "upsert", "s1", "revised v1"),
      (4L, 2L, "upsert", "s2", "resurrected"),         // delete then upsert → back
      (9L, 1L, "delete", null, null),                  // delete of unseen key → no-op
      (2L, 2L, "upsert", "s1", "revised v2"),          // supersedes v1
      (5L, 1L, "upsert", "s1", "doomed rewrite"),
      (4L, 1L, "delete", null, null),
      (3L, 1L, "delete", null, null),
      (7L, 1L, "upsert", "s3", "brand new"))           // insert = upsert of new key
      .toDF("doc_id", "seq", "op", "source", "text")
    val got = Dedup.applyChangesOf(base, changes)
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    assert(got === Seq(
      (1L, "s1", "keep me"),
      (2L, "s1", "revised v2"),
      (4L, "s2", "resurrected"),
      (7L, "s3", "brand new")))
  }

  test("compactChanges: physical fold + empty changelog; replaying the log is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val basePath = s"$dir/corpus"; val changesPath = s"$dir/changes"
    Seq((1L, "s1", "keep"), (2L, "s1", "old"), (3L, "s2", "drop"))
      .toDF("doc_id", "source", "text").write.parquet(basePath)
    val log = Seq(
      (2L, 1L, "upsert", "s1", "new"),
      (3L, 1L, "delete", null, null),
      (7L, 1L, "upsert", "s3", "insert"))
      .toDF("doc_id", "seq", "op", "source", "text")
    log.write.parquet(changesPath)
    Dedup.compactChanges(spark, basePath, changesPath)
    def state() = spark.read.parquet(basePath)
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    val merged = Seq((1L, "s1", "keep"), (2L, "s1", "new"), (7L, "s3", "insert"))
    assert(state() === merged)
    val fs = new org.apache.hadoop.fs.Path(changesPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(changesPath)),
      "the changelog must be emptied once its tombstones are physical")
    // the crash window after the swap: the changelog still exists and is
    // re-applied on the next run — must be a no-op on the merged base
    log.write.parquet(changesPath)
    Dedup.compactChanges(spark, basePath, changesPath)
    assert(state() === merged)
    // the crash window after the final changelog DELETE: rerunning the
    // compactor with no changelog at all must no-op, not fail schema
    // inference on the missing path (ADVICE r8)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(changesPath)))
    Dedup.compactChanges(spark, basePath, changesPath)
    assert(state() === merged)
  }

  test("snapshotDiffOf classifies every status and accounts byte mass exactly") {
    // doc_ids chosen so every mod-17 branch fires: 3 → removed,
    // 11 → added, 5 → modified, others → unchanged; two sources so the
    // report groups per source
    val planted = Seq(
      (3L, "s1", "dropped from v2"),       // removed (in v1 only)
      (11L, "s1", "new arrival doc"),      // added (in v2 only)
      (5L, "s2", "revised body"),          // modified (+ " rev2" = 5 bytes)
      (1L, "s1", "stable one"),            // unchanged
      (2L, "s2", "stable two"))            // unchanged
      .toDF("doc_id", "source", "text")
    val got = Dedup.snapshotDiffOf(planted)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    val expected = Seq(
      ("s1", "added", 1L, 0L, "new arrival doc".length.toLong),
      ("s1", "removed", 1L, "dropped from v2".length.toLong, 0L),
      ("s1", "unchanged", 1L, "stable one".length.toLong, "stable one".length.toLong),
      ("s2", "modified", 1L, "revised body".length.toLong, "revised body".length + 5L),
      ("s2", "unchanged", 1L, "stable two".length.toLong, "stable two".length.toLong))
    assert(got === expected)
  }
}
