package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Fixpoint, Stage}
import graft.functions.{GramPosHashesExpr, KmvSketchAgg, MinHashAgg, MinHashBandsRowExpr,
  RollingHashExpr, ShingleHashesExpr, SimHashAgg}
import graft.queries.QueryPack

/** Document deduplication over the `documents` table (`doc_id`, `text`,
  * `lang`, `source`, `n_chars`) — the four standard flavors of a
  * training-data pipeline, each designed so the candidate-generation step
  * is an equi-join (shuffle on a key), never an all-pairs scan:
  *
  *  - exact: hash group-by on the full text;
  *  - n-gram Jaccard: inverted-index join on word trigram shingles;
  *  - MinHash + LSH: banding over 128-permutation signatures, candidates
  *    verified with exact Jaccard (so output = the exact result as long
  *    as recall holds — with 32 bands × 4 rows, miss probability at
  *    j≥0.8 is < 1e-7);
  *  - SimHash: 64-bit fingerprints, 16-bit band join, Hamming filter.
  *
  * Thresholds are calibrated to the corpus (planted near-dups sit at
  * trigram Jaccard ≥ 0.8; unrelated pairs below 0.1).
  */
object Dedup extends QueryPack {

  // ---------- shared shingling ----------

  /** Distinct (doc_id, shingle) pairs: word trigrams joined by single
    * spaces. Docs shorter than `n` tokens contribute nothing (guarded
    * identically in the oracle SQL). */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(expr(
          s"array_distinct(transform(sequence(1, size(toks) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(toks, i, $n))))")).as("shingle"))

  /** Shingles with the string replaced by its 64-bit hash — what every
    * join/aggregate downstream actually keys on. An 8-byte shuffle key
    * instead of a ~20-60 byte string is the difference that matters at
    * corpus scale; a hash collision merging two distinct shingles has
    * probability ~2^-64 per pair (it would shift a Jaccard count by 1 —
    * accepted and documented, as with hash-keyed exact dedup).
    *
    * Each token is hashed once, then a shingle hash combines the `n`
    * token hashes (xxhash64 chains its arguments, so the combination is
    * order-sensitive) — no per-shingle string concatenation at all. Two
    * shingles agree iff their token triples agree, exactly the equality
    * the string form encodes, modulo the same 2^-64 collision caveat. */
  def hashedShingles(docs: DataFrame, n: Int = 3): DataFrame = {
    docs.select(col("doc_id"), explode(ShingleHashesExpr.column(col("text"), n)).as("shingle"))
  }

  /** The pre-expression formulation of [[hashedShingles]] via built-in
    * higher-order functions — kept as the reference implementation the
    * native kernel is equality-tested against (DedupSpec). */
  private[graft] def hashedShinglesHof(docs: DataFrame, n: Int = 3): DataFrame = {
    val win = (0 until n).map(k => s"th[i+${k - 1}]").mkString(", ") // [] is 0-based
    docs
      .select(col("doc_id"), expr("transform(split(text, ' '), t -> xxhash64(t))").as("th"))
      .filter(size(col("th")) >= n)
      .select(col("doc_id"),
        explode(expr(
          s"array_distinct(transform(sequence(1, size(th) - ${n - 1}), " +
          s"i -> xxhash64($win)))")).as("shingle"))
  }

  /** Exact Jaccard over distinct shingle sets via inverted-index
    * intersection counts; `pairs` (doc_a < doc_b) optionally restricts to
    * pre-generated candidates (a semi join, e.g. from LSH banding). */
  private def jaccardOf(sh: DataFrame, pairs: Option[DataFrame]): DataFrame = {
    // with candidates given, shrink the inverted index to candidate docs
    // BEFORE the self-join — the verify then costs O(candidate shingles),
    // not O(corpus shingles): this is what makes LSH + exact-verify
    // cheaper than the exhaustive join at scale. No distinct on the doc
    // list: left_semi only tests key existence, so duplicate keys on the
    // build side are harmless and deduping them would cost a shuffle.
    val shJ = pairs.fold(sh) { p =>
      val docsInPairs = p.select(col("doc_a").as("doc_id"))
        .union(p.select(col("doc_b").as("doc_id")))
      sh.join(docsInPairs, Seq("doc_id"), "left_semi")
    }
    // per-doc set sizes from the restricted set — every doc_id referenced
    // by `inter` below survives the semi join with ALL its shingles, so
    // the counts equal the full-corpus counts at a fraction of the scan
    val sizes = shJ.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val coShingle = shJ.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(shJ.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
    val restricted = pairs.fold(coShingle)(p =>
      coShingle.join(p, Seq("doc_a", "doc_b"), "left_semi"))
    val inter = restricted
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")))
  }

  // ---------- exact ----------

  /** Exact dedup stats per source: group-by on text (Spark's hash
    * aggregate keys on the hash of the value — at 100 TB swap `text` for
    * `xxhash64(text)` to shrink shuffle payloads; semantics identical
    * modulo 64-bit collisions). */
  def exactStats(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("text")).as("n_distinct"),
           (count(lit(1)) - countDistinct(col("text"))).as("n_dups"))
      .orderBy("source")

  /** Exact dedup survivors: smallest doc_id per identical text + copy
    * count — the standard keep-first policy as one hash aggregate. */
  def exactSurvivors(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** [[exactSurvivors]] keyed on a DIGEST of the text instead of the
    * text itself — the 100 TB formulation the scaladoc above promises:
    * the shuffle carries a 16-byte hash per row instead of the full
    * document (~100× less exchange payload on a 1.5 KB doc), and the
    * survivor id + copy count need nothing else. md5 here because the
    * oracle must compute the identical digest (DuckDB has no xxhash64);
    * production would key on `xxhash64(text)` (8 bytes, faster) with
    * the same 2⁻⁶⁴ collision caveat as the shingle family — either
    * way a collision only merges two UNRELATED docs, detectable by an
    * optional equality re-check of survivors against copies. */
  def exactHashSurvivors(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .groupBy(md5(col("text").cast("binary")))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  // ---------- n-gram Jaccard ----------

  /** Near-dup pairs with trigram-shingle Jaccard >= 0.8, candidates from
    * the plain inverted-index self-join (see [[ngramJaccardOf]]; the
    * prefix-filtered variant is [[ngramJaccardPrefixOf]]). */
  def ngramJaccard(spark: SparkSession, d: String): DataFrame =
    ngramJaccardOf(Tables.documents(spark, d))

  /** Same over any (doc_id, text) frame. Candidates come from the plain
    * inverted-index self-join — on a corpus whose shingles are mostly
    * unique (this one), that join is already near-linear and beats the
    * prefix-filtered variant's extra passes; see [[ngramJaccardPrefixOf]]
    * for the shape that wins once hot shingles appear. */
  def ngramJaccardOf(docs: DataFrame): DataFrame = Stage(docs.sparkSession) { st =>
    // hashed shingles: 8-byte join keys, materialized once because the
    // set feeds three plan branches (sizes + both join sides).
    // UNRESTRICTED inverted-index self-join → keyed by shingle (r18):
    // the intersection join runs exchange-free and sort-free; one
    // pinned exchange of the index replaces the join's two. The
    // candidate-RESTRICTED callers below keep the plain checkpoint
    // deliberately — there the join exchanges only the restricted
    // sliver, and exchanging the whole index once to save two sliver
    // exchanges inverts at scale.
    val sh = st.byKeys(hashedShingles(docs), "shingle")
    jaccardOf(sh, None)
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  // ---------- winnowing fingerprints ----------

  /** Winnowing gram width (word trigrams, the corpus's shingle width),
    * window (4 consecutive gram starts — guarantee: any shared run of
    * w+k-1 = 6 tokens yields a shared fingerprint), and the
    * shared-fingerprint floor for reporting a pair. */
  private[graft] val WinnowK = 3
  private[graft] val WinnowW = 4
  private[graft] val WinnowShared = 2L
  private[graft] val WinnowMaxDf = 256L

  /** MOSS-style WINNOWING near-dup pairs (Schleimer, Wilkerson, Aiken
    * 2003, "Winnowing: Local Algorithms for Document Fingerprinting") —
    * the fingerprint-selection dedup modality the n-gram/MinHash/
    * SimHash trio doesn't cover: instead of sketching the whole
    * shingle SET, select the MINIMUM gram hash in every window of
    * [[WinnowW]] consecutive gram positions. The guarantee is local —
    * any shared token run of length ≥ w+k−1 forces a shared selected
    * fingerprint — so winnowing catches LOCALIZED overlap (a copied
    * paragraph inside otherwise-different documents) that whole-set
    * Jaccard dilutes below threshold, at ~2/(w+1) of the grams'
    * storage. Pairs = docs sharing ≥ [[WinnowShared]] selected
    * fingerprints, counted exactly.
    *
    * Scale shape: gram hashing is a stateless scan projection; the
    * window-min runs per document ordered by position (doc-sized
    * partitions — bounded, never a corpus axis); the pair step is an
    * equi-join on the fingerprint value (id-only shuffles, the
    * inverted-index recipe) — winnowing's selection density bounds the
    * index at ~2/(w+1) of all gram occurrences. The hot-key quadratic
    * (a BOILERPLATE fingerprint in m documents makes m² pairs) is
    * killed the way MOSS itself does it — common-fingerprint
    * ELIMINATION: fingerprints with document frequency >
    * [[WinnowMaxDf]] are template/boilerplate content, not a copying
    * signal, and are dropped BEFORE the pair join (Schleimer et al. §5
    * discard matches "in many documents"; same role as the rarest-
    * first prefix filter in [[ngramJaccardPrefixOf]]). The cap is a
    * semantic law mirrored in the oracle, so every bucket entering the
    * join is ≤ [[WinnowMaxDf]] rows at ANY corpus size. Every hash is
    * the poly-31
    * rolling hash over the GRAM STRING — the one string hash the
    * DuckDB oracle replays exactly (`text_fingerprint`'s list_reduce
    * mirror) — so the query is hash-checked end to end, unlike the
    * XXH64-keyed shingle family. Tail windows truncate (the frame
    * clamps at the last gram), which only ADDS selected fingerprints
    * near document ends — the local guarantee is unaffected;
    * identically clamped on both engines. */
  def winnowPairs(spark: SparkSession, d: String): DataFrame =
    winnowPairsOf(Tables.documents(spark, d))

  def winnowPairsOf(documents: DataFrame): DataFrame = Stage(documents.sparkSession) { st =>
    val docs = documents
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= WinnowK)
    // Fingerprint selection is a pure PER-DOCUMENT computation, so it
    // runs entirely in-array (r17; guide §2.4 "remove shuffles
    // outright"): the old form exploded the gram-hash stream and ran
    // `min over (partitionBy doc_id orderBy pos rowsBetween 0, W-1)`
    // plus a `(doc_id, fp) distinct` — TWO corpus-sized Exchanges (the
    // window's hash-partition + sort over every gram of every document,
    // then the distinct's re-shuffle) for a sliding minimum that never
    // crosses a document boundary. Here the gram hashes stay an array
    // column (`hs`), each window minimum is `array_min(slice(hs, j, W))`
    // (slice truncates at the tail exactly like the shrinking
    // rowsBetween frames did), and the per-doc distinct is
    // `array_distinct` before the explode — the first shuffle the plan
    // pays is the df-count aggregate over the already-selected
    // fingerprints. Same O(n·W) per-doc compute either way.
    // materialized ONCE, keyed by fp (r18): un-stored, the rolling-hash
    // + window-min selection pipeline ran THREE times (the df-count
    // aggregate and both self-join sides) and the df-gate join + pair
    // self-join each exchanged both scans by fp; now one pinned exchange
    // at materialize and the gate join, the df aggregate and the pair
    // join are all partition-local
    val fps = st.byKeys(docs
      .select(col("doc_id"), transform(sequence(lit(1), size(col("t")) - (WinnowK - 1)),
        i => RollingHashExpr.column(concat_ws(" ", slice(col("t"), i, lit(WinnowK))))).as("hs"))
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(1, size(hs)), j -> array_min(slice(hs, j, $WinnowW)))")))
        .as("fp")), "fp")
    // MOSS common-fingerprint elimination: df > WinnowMaxDf ⇒
    // boilerplate, dropped before the join — bounds every bucket
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= WinnowMaxDf).select("fp"),
      "fp")
    kept.select(col("doc_id").as("doc_a"), col("fp"))
      .join(kept.select(col("doc_id").as("doc_b"), col("fp")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowShared)
      .orderBy("doc_a", "doc_b")
  }

  /** Prefix-filtered variant (Bayardo et al.'s AllPairs / Xiao et al.'s
    * PPJoin family), result-identical to [[ngramJaccardOf]]: order every
    * doc's shingles by one global order (corpus frequency asc — rarest
    * first — shingle hash as tie-break) and index only each doc's first
    * `|d| − ⌈t·|d|⌉ + 1` shingles. For Jaccard ≥ t a qualifying pair has
    * overlap ≥ t·max(|a|,|b|), and under a consistent total order two
    * sets with that much overlap must collide inside these prefixes —
    * recall is exactly 1. The point at 100 TB: hot (frequent) shingles
    * are precisely what the ordering pushes OUT of the index, so the
    * k²-pairs hot-shingle blowup of the plain inverted join cannot
    * happen. On this corpus (near-unique shingles) the extra frequency
    * and window passes cost more than they save — DedupSpec proves
    * equality, the bench runs the plain join. */
  def ngramJaccardPrefixOf(docs: DataFrame, t: Double = 0.8): DataFrame = Stage(docs.sparkSession) { st =>
    import org.apache.spark.sql.expressions.Window
    val sh = st.checkpoint(hashedShingles(docs))
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    val prefix = sh.join(freq, "shingle")
      .withColumn("r", row_number().over(byRarity))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("r") <= col("n") - ceil(col("n") * t) + 1)
      .select("doc_id", "shingle")
    // materialized once: jaccardOf reads the candidate set from three
    // plan branches, and the prefix pipeline (freq agg + two windows +
    // self-join) is the expensive part worth computing once — same
    // reason minhashLshOf checkpoints its candidates
    val candidates = st.checkpoint(prefix.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct())
    jaccardOf(sh, Some(candidates))
      .filter(col("jaccard") >= t)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  // ---------- train/val split leakage ----------

  /** Train/val split leakage audit — the pre-training check every
    * LLM-data pipeline runs AFTER deduplication and splitting: hash-split
    * the corpus 90/10 by [[graft.functions.DetMix]] (the repo's one
    * deterministic sampling hash, so the split is reproducible across
    * engines and runs), then report every near-dup pair (trigram Jaccard
    * >= 0.8, from the same inverted-index join as `dedup_ngram`) that
    * CROSSES the split boundary — i.e. a validation document whose
    * near-copy sits in train, which would inflate eval scores exactly
    * the way benchmark contamination does (cf. `decontaminate`, which
    * audits against an EXTERNAL eval set; this audits the internal
    * split). Output is oriented val-side-first so each row reads as "val
    * doc X is compromised by train doc Y".
    *
    * Scale shape: the split column is a pure function of doc_id (no
    * join, no shuffle to assign), and the pair stage is the existing
    * near-linear inverted-index join; the two split lookups ride the
    * already-shuffled pair frame as joins on doc_id. At 100 TB the
    * pair source swaps to the LSH candidates ([[minhashLshOf]]) with
    * identical downstream semantics. */
  def splitLeakage(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    splitLeakageOf(docs)
  }

  /** 90% of the DetMix modulus — doc ids hashing below go to train. */
  private val TrainCut = graft.functions.DetMix.Modulus * 9L / 10L

  private[graft] def splitLeakageOf(docs: DataFrame): DataFrame = {
    val split = docs.select(col("doc_id"),
      when(graft.functions.DetMix.lehmerMix(col("doc_id")) < lit(TrainCut),
        lit("train")).otherwise(lit("val")).as("split"))
    val pairs = ngramJaccardOf(docs)
    pairs
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(
        when(col("split_a") === "val", col("doc_a")).otherwise(col("doc_b")).as("doc_val"),
        when(col("split_a") === "val", col("doc_b")).otherwise(col("doc_a")).as("doc_train"),
        col("jaccard"))
      .orderBy("doc_val", "doc_train")
  }

  // ---------- MinHash + LSH ----------

  // 128 permutations / 32 bands × 4 rows — shared with the session
  // extension surface through MinHashAgg.DefaultBands
  private val Bands = graft.functions.MinHashAgg.DefaultBands

  /** Fixed affine permutation constants for `(h*a + b) mod p` (p =
    * 2^31-1, prime — the modulus is what makes each permutation reorder
    * the domain; without it the transform is monotone and every
    * permutation picks the same argmin). The base hash is masked to 32
    * bits and multipliers stay below 2^30 so `h*a + b` never overflows a
    * long (ANSI mode rejects wrapping arithmetic). */
  private def permA: Array[Long] = graft.functions.MinHashAgg.DefaultA
  private def permB: Array[Long] = graft.functions.MinHashAgg.DefaultB

  /** 128-perm MinHash signature per doc (`sig` ARRAY<BIGINT>): one
    * [[graft.functions.MinHashAgg]] sketch aggregate over the masked
    * shingle hash — a single map-side-combined pass with a 1 KB buffer
    * per group, instead of 128 separate MIN columns. */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignaturesFrom(shingles(docs))

  /** Same, over an already-shingled (doc_id, shingle) frame — string
    * shingles or pre-hashed long shingles both accepted. */
  def minhashSignaturesFrom(sh: DataFrame): DataFrame = {
    val h = sh.schema("shingle").dataType match {
      case org.apache.spark.sql.types.LongType => expr("shingle & 4294967295")
      case _ => expr("xxhash64(shingle) & 4294967295") // 32-bit domain
    }
    sh.withColumn("h", h)
      .groupBy("doc_id")
      .agg(MinHashAgg.column(col("h"), permA, permB).as("sig"))
  }

  /** LSH candidate pairs: equal signature band (4 consecutive minhashes
    * hashed together) in the same band index. Band keys come straight out
    * of the fused [[graft.functions.MinHashAgg]] eval (`bands = 32`), so
    * the only plan-side work is one `posexplode` — no 128-element_at
    * banding expression tree. */
  private def lshCandidatesFrom(sh: DataFrame): DataFrame = {
    val h = sh.schema("shingle").dataType match {
      case org.apache.spark.sql.types.LongType => expr("shingle & 4294967295")
      case _ => expr("xxhash64(shingle) & 4294967295")
    }
    val banded = sh.withColumn("h", h)
      .groupBy("doc_id")
      .agg(MinHashAgg.column(col("h"), permA, permB, Bands).as("bks"))
      .select(col("doc_id"), posexplode(col("bks")).as(Seq("band", "bkey")))
    banded.select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
      .join(banded.select(col("doc_id").as("doc_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** MinHash/LSH near-dup: banded candidates, then exact-Jaccard verify at
    * the same 0.8 threshold → equals the exhaustive result (≥ 1-1e-7
    * recall), at index-join cost. Shares the n-gram oracle. */
  def minhashLsh(spark: SparkSession, d: String): DataFrame =
    minhashLshOf(Tables.documents(spark, d))

  /** Same over any (doc_id, text) frame. */
  def minhashLshOf(docs: DataFrame): DataFrame = Stage(docs.sparkSession) { st =>
    // four plan branches read the shingles (signatures, sizes, both
    // verify-join sides) and three read the candidate pairs — checkpoint
    // both so the explode+distinct and the banding pipeline run once each
    val sh = st.checkpoint(hashedShingles(docs))
    val candidates = st.checkpoint(lshCandidatesFrom(sh))
    jaccardOf(sh, Some(candidates))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash LSH with the PER-ROW band kernel
    * ([[graft.functions.MinHashBandsRowExpr]]): band keys come from one
    * scalar byte-scan over `text` — no shingle explode and NO groupBy
    * shuffle on the corpus side of candidate generation (the only
    * shuffles left are the band-key equi-join and the verify join).
    * Because the kernel is bit-identical to the aggregate path, the
    * candidates — and after exact-Jaccard verification the final
    * result — equal [[minhashLshOf]]'s, and both hash-match the
    * exhaustive oracle. This is also the streaming-composable form:
    * [[graft.streaming.StreamingAnalytics.nearDupStream]] probes a
    * static index with the same expression. */
  def minhashLshRow(spark: SparkSession, d: String): DataFrame =
    minhashLshRowOf(Tables.documents(spark, d))

  def minhashLshRowOf(docs: DataFrame): DataFrame = Stage(docs.sparkSession) { st =>
    // keyed by (band, bkey) (r18; was a plain checkpoint whose hidden
    // layout made the candidate self-join exchange both scans)
    val banded = st.byKeys(
      docs.select(col("doc_id"),
        posexplode(MinHashBandsRowExpr.column(col("text"))).as(Seq("band", "bkey"))),
      "band", "bkey")
    val cand = st.checkpoint(banded.select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
      .join(banded.select(col("doc_id").as("doc_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct())
    val sh = st.checkpoint(hashedShingles(docs))
    jaccardOf(sh, Some(cand))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  // ---------- cluster assignment (connected components) ----------

  /** Connected components by iterative min-label propagation: every node
    * starts as its own label; each round, a node adopts the smallest
    * label among itself and its neighbors; fixpoint when nothing
    * changes. The component id is the smallest doc_id in the component —
    * the same "keep-first" survivor exact dedup uses.
    *
    * Each round is one shuffle join (edges ⋈ labels) + one min
    * aggregate, fully distributed; from round 3 on (i.e. only once the
    * graph has proven deeper than the clique/short-chain common case,
    * which converges before then at zero extra cost) each round also
    * applies a POINTER-JUMPING shortcut (the Shiloach–Vishkin family):
    * since r18, TWO chained lookups of the PREVIOUS round's
    * materialized labels — `L ← min(hop, L_prev(hop))` applied twice —
    * so the whole round is ONE lazy plan whose only action is the
    * convergence aggregate (r17's fresh self-lookup needed an eager
    * hop checkpoint — a second job per round — to avoid racing two
    * scans into the edge join). Each lookup composes another round's
    * worth of last-round knowledge, so per-round label coverage grows
    * ~3× (vs the fresh single lookup's ~2×) and the loop still
    * converges in O(log diameter) rounds (the shortcut is sound
    * because labels are always node ids drawn from the same frame and
    * only ever decrease toward the component minimum, so composing
    * monotone min-maps stays below the fixpoint). On a pure path a
    * 256-node chain converges within the ≤ 10 rounds DedupSpec pins
    * where plain propagation needs 256; on the semantic_dedup corpus
    * (eccentricity ~15 from its BFS roots, 11 rounds under the r17
    * form) the r18 shape cuts the loop's Spark-job count ~20%
    * (semantic_dedup_ivf 76 → 62 jobs, 2.0 → 1.7 s min-of-3 at sf0.1;
    * QueryProfile r18). Worth it at both ends: per-round cost is
    * fixed job overhead at bench scale and one edge-sliver shuffle at
    * 100 TB — the shortcut's lookups are labels-sized and never touch
    * the edges. `localCheckpoint` truncates the plan between rounds so
    * the lineage doesn't grow with iteration count. */
  def clusterLabels(nodes: DataFrame, pairs: DataFrame): DataFrame =
    clusterLabelsWithRounds(nodes, pairs)._1

  private[graft] def clusterLabelsWithRounds(
      nodes: DataFrame, pairs: DataFrame): (DataFrame, Int) =
    Fixpoint(pairs.sparkSession, "cc") { (st, fx) =>
      // materialize the pair set ONCE before fanning it into the two union
      // branches: staging the edges alone still plans the (possibly expensive —
      // LSH + verify) pair pipeline into both branches, and the round loop
      // would pay its final stages twice. The checkpointed pair set is tiny
      // (the near-dup sliver), the pipeline above it is not.
      val p = st.checkpoint(pairs)
      // SELF-LOOPS folded into the static edge frame (r18, guide §2.4):
      // with (n, n) rows for every edge-bearing node, each round's hop is
      // `min(cluster_id over neighbors ∪ self)` in ONE edge-join +
      // aggregate — algebraically identical to the old
      // `least(self, coalesce(nbrMin, self))` but without the per-round
      // left-outer join of the label frame against the vote aggregate
      // (two exchanges of O(nodes) rows per round, and their AQE stage
      // jobs, gone from every CC consumer: the dedup cluster family,
      // split_by_cluster, entity_resolution, the semantic_dedup arms).
      // The convergence sum below materializes it through the
      // labels-init lineage; the edge cache (round 1's action) reads the
      // blocks strictly later
      val loops = st.checkpoint(p.select(col("doc_a").as("src"))
        .union(p.select(col("doc_b").as("src"))).distinct(), eager = false)
      val edges = st.stage(p
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .union(loops.select(col("src"), col("src").as("dst"))))
      // propagate only over docs that have at least one edge — at corpus
      // scale the pair graph is a sliver of the node set, and singletons
      // (their own cluster by definition) need no iterations at all
      var labels = fx.checkpoint(loops.select(col("src").as("doc_id"))
        .select(col("doc_id"), col("doc_id").as("cluster_id")))
      // labels only ever decrease, so the exact decimal sum of all labels
      // is strictly monotone until the fixpoint: one cheap aggregate per
      // round instead of a join-and-count change detection (decimal, not
      // long — a corpus of big doc_ids would overflow a 64-bit sum)
      def labelSum(df: DataFrame): java.math.BigDecimal = {
        val s = df
          .agg(sum(col("cluster_id").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
          .head().getDecimal(0)
        // SUM over zero rows is NULL — an empty pair set must converge
        // on the first check, not NPE
        if (s == null) java.math.BigDecimal.ZERO else s
      }
      var prevSum = labelSum(labels)
      fx.loop() { round =>
        // the self-loop rows make this aggregate the WHOLE hop: every
        // node votes its own label alongside its neighbors', so the
        // old `least(self, coalesce(nbrMin, self))` outer join is this
        // min — same values, two fewer exchanges per round
        val hopPlan = edges
          .join(labels, col("dst") === col("doc_id"))
          .groupBy(col("src"))
          .agg(min(col("cluster_id")).as("cluster_id"))
          .select(col("src").as("doc_id"), col("cluster_id"))
        // One lookup of the PREVIOUS round's materialized labels:
        // `L ← min(L, L_prev(L))` — sound for the same monotone-min
        // reason as the classic fresh self-lookup (the adopted value is
        // a same-component node's label, and labels only decrease
        // toward the component minimum).
        def viaPrev(df: DataFrame): DataFrame = df
          .join(labels.select(col("doc_id").as("l_id"), col("cluster_id").as("l_lab")),
            col("cluster_id") === col("l_id"), "left_outer")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("l_lab"), col("cluster_id")))
              .as("cluster_id"))
        // Rounds 1–2 are plain hops: near-dup graphs are overwhelmingly
        // cliques/short chains that converge right here, and for them
        // the shortcut's extra lookup joins per round are pure
        // overhead. A third round means a genuinely deep component —
        // switch the doubling on from there.
        //
        // r18 shortcut shape: TWO chained lookups of the previous
        // round's labels instead of r17's one self-join of the fresh
        // hop. Coverage per round goes ~2f+2 → ~3f+1 (each lookup
        // composes another f(r−1) of last round's knowledge), so deep
        // components converge in fewer rounds — the semantic corpus
        // (ecc ~15) drops 11 → 6 rounds, a 256-chain 9 → 8 — and the
        // round becomes ONE lazy plan reading only materialized frames:
        // no eager hop-checkpoint job (r17 paid checkpoint + sum = two
        // actions per shortcut round), no self-join of an
        // unmaterialized frame (the r17 race), and the lookup side of
        // both joins is the same exchange (reused). Explicit
        // broadcast hints on these label-sided joins were A/B'd and
        // REJECTED this round: Spark 4.1 re-executes the fused
        // broadcast-build stage of a hinted plan at ~150 ms/task on
        // this corpus (measured: every CC round re-paid ~2.5 core-s —
        // semantic_dedup exec 7 → 33 core-s), so the rounds keep their
        // AQE-planned shuffle joins.
        labels = fx.checkpoint(
          if (round <= 2) hopPlan else viaPrev(viaPrev(hopPlan)))
        val s = labelSum(labels) // first action: materializes `labels` too
        val converged = s.compareTo(prevSum) == 0
        prevSum = s
        converged
      }
      val singletons = nodes
        .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("cluster_id"))
      labels.union(singletons)
    }

  /** Connected components by alternating star contraction (Kiveris et
    * al., "Connected Components in MapReduce and Beyond"): the
    * adversarial-diameter alternative [[clusterLabels]]'s scaladoc
    * points at. Each round runs
    *
    *  - large-star: every node re-points its LARGER neighbors at the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: every node re-points its smaller-or-equal neighbors
    *    (and itself) at that minimum;
    *
    * until the edge set is a fixed point — then every edge is
    * (component-min, member) directly. Rounds are O(log diameter)
    * instead of label propagation's O(diameter): a 256-node chain
    * settles in ~5 rounds, not 256. Each phase is one groupBy + one
    * join on the current edge set (which only ever shrinks toward the
    * star form), so per-round cost tracks the pair sliver, never the
    * corpus. Use this over [[clusterLabels]] when components may be
    * long chains (page-chains, record-linkage graphs); for near-dup
    * cliques both settle in 2-3 rounds and label propagation's single
    * join per round is cheaper. */
  def clusterLabelsStar(nodes: DataFrame, pairs: DataFrame): DataFrame =
    clusterLabelsStarWithRounds(nodes, pairs)._1

  private[graft] def clusterLabelsStarWithRounds(
      nodes: DataFrame, pairs: DataFrame): (DataFrame, Int) =
    Fixpoint(pairs.sparkSession, "star") { (_, fx) =>
      // canonical undirected edge set (u < v), materialized once
      var edges = fx.checkpoint(pairs
        .select(least(col("doc_a"), col("doc_b")).as("u"),
                greatest(col("doc_a"), col("doc_b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct(), eager = true)
      def largeStar(e: DataFrame): DataFrame = {
        val dir = e.select(col("u"), col("v"))
          .union(e.select(col("v").as("u"), col("u").as("v")))
        val mins = dir.groupBy("u")
          .agg(least(min(col("v")), first(col("u"))).as("m"))
        // for every neighbor v > u: edge (m, v); m < u < v keeps it canonical
        dir.join(mins, "u")
          .filter(col("v") > col("u") && col("v") =!= col("m"))
          .select(col("m").as("u"), col("v"))
          .distinct()
      }
      def smallStar(e: DataFrame): DataFrame = {
        // group by the larger endpoint: its smaller neighbors + itself all
        // re-point at the smallest neighbor
        val mins = e.groupBy(col("v")).agg(min(col("u")).as("m"))
        e.join(mins, "v")
          .filter(col("u") =!= col("m"))
          .select(col("m").as("u"), col("u").as("v"))
          .union(mins.select(col("m").as("u"), col("v")))
          .distinct()
      }
      // one count per FRAME, carried across rounds (r17): the loop used
      // to re-count the cached previous edge set every round (a whole
      // job just to re-read a number it had already computed), and the
      // eager checkpoint paid another job before the count; the lazy
      // checkpoint's materializing action IS the count now — per round:
      // one count + (only on a size tie) the exceptAll check, down from
      // four actions.
      var edgeCount = edges.count()
      if (edgeCount > 0) fx.loop() { _ =>
        val next = fx.checkpoint(smallStar(largeStar(edges)))
        val nextCount = next.count() // materializes the lazy checkpoint
        // both sets are distinct: equal iff same size and no new edge
        val converged = nextCount == edgeCount && next.exceptAll(edges).isEmpty
        edges = next
        edgeCount = nextCount
        converged
      }
      val members = edges
        .select(col("v").as("doc_id"), col("u").as("cluster_id"))
        .union(edges.select(col("u").as("doc_id"), col("u").as("cluster_id"))
          .distinct())
      val singletons = nodes
        .join(members.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("cluster_id"))
      members.union(singletons)
    }

  /** Cluster assignment for every document: near-dup pairs from the
    * MinHash/LSH + exact-verify path (identical to the exhaustive ≥0.8
    * Jaccard pair set), closed into components, singletons keeping their
    * own id. The oracle computes the same thing as a recursive
    * transitive closure over the exact pair set. */
  def dedupClusters(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val pairs = minhashLshRowOf(docs).select("doc_a", "doc_b")
    clusterLabels(docs.select("doc_id"), pairs).orderBy("doc_id")
  }

  /** [[dedupClusters]] computed by [[clusterLabelsStar]] instead of
    * label propagation — driver-checked against the SAME recursive
    * transitive-closure oracle, so both component algorithms are proven
    * equal on the real near-dup graph, not just unit-test graphs. */
  def dedupClustersStar(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val pairs = minhashLshRowOf(docs).select("doc_a", "doc_b")
    clusterLabelsStar(docs.select("doc_id"), pairs).orderBy("doc_id")
  }

  /** The production dedup composition, end to end: exact dedup first
    * (one hash aggregate — handles the quadratic-output case of
    * many-way exact copies), then MinHash/LSH near-dup on the exact
    * survivors only, components closed, and one survivor (smallest
    * doc_id) kept per cluster. Returns the surviving (doc_id, text)
    * rows. This is the composition `tools.Scale smoke` measures: the sketch
    * passes scale with the corpus, the near-dup verify scales with the
    * survivor set. */
  def dedupCorpus(docs: DataFrame, threshold: Double = 0.8): DataFrame = Stage(docs.sparkSession) { st =>
    // the LSH banding underneath is calibrated for j >= 0.8 (32 bands ×
    // 4 rows); a lower threshold would need a different banding to keep
    // recall, so reject it instead of silently missing pairs
    require(threshold >= 0.8, s"threshold $threshold below the 0.8 LSH calibration")
    // materialized once: the survivor frame feeds the shingle pipeline,
    // the cluster node set, and the final semi join — three full
    // re-aggregations of the corpus text without it
    val exactSurvivors = st.checkpoint(docs
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "text"))
    val pairs = minhashLshRowOf(exactSurvivors)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b")
    val keep = clusterLabels(exactSurvivors.select("doc_id"), pairs)
      .filter(col("doc_id") === col("cluster_id"))
      .select("doc_id")
    exactSurvivors.join(keep, Seq("doc_id"), "left_semi")
  }

  /** Quality-aware survivor selection — one row per near-dup cluster
    * with the representative a curation pipeline would actually keep:
    * the LONGEST member (then smallest doc_id), not the smallest id.
    * Min-id survival ([[dedupCorpus]]) is the right default for
    * determinism, but when near-dups are subsets/truncations of each
    * other the longest member dominates the others' content, so
    * keeping it preserves the most training signal per cluster.
    *
    * The argmax is `min(struct(-n_tokens, doc_id))` inside the same
    * hash aggregate that counts the cluster — partial+final combine,
    * one shuffle on cluster_id, no window over the full corpus. */
  def survivorQuality(spark: SparkSession, d: String): DataFrame =
    survivorQualityOf(Tables.documents(spark, d))

  /** Same over an already-loaded `(doc_id, text)` frame. */
  def survivorQualityOf(docs: DataFrame): DataFrame = {
    val pairs = minhashLshRowOf(docs).select("doc_a", "doc_b")
    val labels = clusterLabels(docs.select("doc_id"), pairs)
    labels
      .join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")), "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        min(struct((-col("n_tokens")).as("neg"), col("doc_id").as("id"))).as("w"))
      .select(col("cluster_id"), col("w.id").as("survivor_id"),
        (-col("w.neg")).as("survivor_tokens"), col("n_docs"))
      .orderBy("cluster_id")
  }

  /** INCREMENTAL ingest dedup — the nightly-batch question: which of
    * the NEW documents (here: source `src0` stands in for the arriving
    * batch) duplicate the existing corpus, which duplicate an earlier
    * doc in the same batch, and which are genuinely new? This is the
    * batch mirror of [[graft.streaming.StreamingAnalytics]]'s near-dup
    * stream probe: at scale the history side is a pre-built band index
    * that the batch's band keys equi-join — candidate generation never
    * rescans history text, and the exact-Jaccard verify
    * ([[jaccardOf]]'s candidate-restricted path) touches only colliding
    * docs. Status precedence: history wins over in-batch (a doc equal
    * to both is `dup_of_history` — it would not survive ingest even if
    * its batch twin were dropped); in-batch matches only count EARLIER
    * (smaller-id) batch docs, the keep-first rule every dedup stage
    * here uses. `match_id` is the smallest matching doc for
    * determinism; NULL for unique docs. Same 32×4 banding as
    * [[minhashLshRowOf]], so the j ≥ 0.8 recall argument (≥ 1−1e−7)
    * carries over — which is what lets an LSH-candidate pipeline
    * hash-match the exhaustive-join oracle. */
  def dedupIncremental(spark: SparkSession, d: String): DataFrame =
    dedupIncrementalOf(Tables.documents(spark, d), batchSource = "src0")

  def dedupIncrementalOf(docs: DataFrame, batchSource: String): DataFrame =
      Stage(docs.sparkSession) { st =>
    val isBatch = col("source") === batchSource
    val banded = st.checkpoint(docs.select(col("doc_id"), isBatch.as("in_batch"),
        posexplode(MinHashBandsRowExpr.column(col("text"))).as(Seq("band", "bkey"))))
    // batch-centric candidates: a batch doc against ANY other doc
    // sharing a band (history in either id direction, batch both ways —
    // canonicalized to u < v for the shared verify)
    val cand = st.checkpoint(banded.filter(col("in_batch"))
      .select(col("doc_id").as("doc_q"), col("band"), col("bkey"))
      .join(banded.select(col("doc_id").as("doc_c"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("doc_q") =!= col("doc_c"))
      .select(least(col("doc_q"), col("doc_c")).as("doc_a"),
        greatest(col("doc_q"), col("doc_c")).as("doc_b"))
      .distinct())
    // checkpoint-before-fan-out, same reason as [[clusterLabelsWithRounds]]:
    // the shingle frame feeds three subtrees inside jaccardOf, and the
    // verified sliver feeds both branches of the re-orient union below —
    // unmaterialized, the corpus shingle explode would plan (and run) 4×
    val verified = st.checkpoint(jaccardOf(st.checkpoint(hashedShingles(docs)), Some(cand))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b"))
    // re-orient each verified pair around its batch member(s); `matches`
    // fans into the two grouped mins — materialize it once too
    val matches = st.checkpoint(verified
      .select(col("doc_a").as("bid"), col("doc_b").as("mid"))
      .union(verified.select(col("doc_b").as("bid"), col("doc_a").as("mid")))
      .join(docs.filter(isBatch).select(col("doc_id").as("bid")), Seq("bid"), "left_semi")
      .join(docs.select(col("doc_id").as("mid"), isBatch.as("m_in_batch")), "mid"))
    val histM = matches.filter(!col("m_in_batch"))
      .groupBy("bid").agg(min(col("mid")).as("hist_match"))
    val batchM = matches.filter(col("m_in_batch") && col("mid") < col("bid"))
      .groupBy("bid").agg(min(col("mid")).as("batch_match"))
    docs.filter(isBatch).select(col("doc_id"))
      .join(histM.withColumnRenamed("bid", "doc_id"), Seq("doc_id"), "left_outer")
      .join(batchM.withColumnRenamed("bid", "doc_id"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("hist_match").isNotNull, lit("dup_of_history"))
          .when(col("batch_match").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("unique")).as("status"),
        coalesce(col("hist_match"), col("batch_match")).as("match_id"))
      .orderBy("doc_id")
  }

  /** Near-dup cluster SIZE DISTRIBUTION — the "how duplicated is this
    * corpus, structurally" report (mostly singletons? a few giant
    * boilerplate clusters?) that decides whether dedup is worth a
    * pipeline stage at all. Composes the standard pair→components path
    * with two more tiny hash aggregates (labels → sizes → histogram);
    * output is at most `max cluster size` rows of model-sized data. */
  def clusterSizes(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val pairs = minhashLshRowOf(docs).select("doc_a", "doc_b")
    clusterLabels(docs.select("doc_id"), pairs)
      .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      .orderBy("sz")
  }

  /** Cross-source contamination matrix — for every source pair, the
    * count of distinct trigram shingles both contain and the Jaccard of
    * their shingle vocabularies. The "how much do my corpus slices
    * leak into each other" diagnostic that complements document-level
    * dedup (same data, source granularity) and [[graft.similarity
    * .Similarity.embedLabelSim]] (which answers it in embedding space).
    *
    * Scale shape: the per-source vocabulary is `distinct(source,
    * shingle)` — VOCABULARY-bound, not corpus-bound — and the pair
    * counts come from a self equi-join on the shingle key: shuffle
    * partitioned by shingle, never all-pairs of documents; with s
    * sources a shared shingle emits at most s² pair rows into a hash
    * aggregate of at most s² groups. */
  def sourceOverlap(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val ss = hashedShingles(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
      .select("source", "shingle").distinct()
    val sz = ss.groupBy("source").agg(count(lit(1)).as("n"))
    val a = ss.select(col("source").as("source_a"), col("shingle"))
    val b = ss.select(col("source").as("source_b"), col("shingle"))
    a.join(b, "shingle").filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sz.select(col("source").as("source_a"), col("n").as("na"))), "source_a")
      .join(broadcast(sz.select(col("source").as("source_b"), col("n").as("nb"))), "source_b")
      .withColumn("jaccard",
        col("n_shared").cast("double") / (col("na") + col("nb") - col("n_shared")))
      .select("source_a", "source_b", "n_shared", "jaccard")
      .orderBy("source_a", "source_b")
  }

  // ---------- KMV / Theta sketch source overlap (the 100 TB path) ----------

  /** KMV retained-sample size. 512 keeps the per-source distinct
    * estimate's relative std at 1/√(k−2) ≈ 4.4% (Beyer et al. 2007)
    * while leaving sf0.01's ~1.2–1.5k distinct shingles per source
    * genuinely in ESTIMATION mode (θ ≈ 0.35–0.45), so the verified
    * gate exercises the estimator, not the exact-mode identity. */
  private[graft] val KmvK = 512

  /** 2^64 as an exact double, for normalizing unsigned hashes to (0,1). */
  private val TwoPow64 = 1.8446744073709552e19

  /** Unsigned long → unit interval: h/2^64 with the sign wrap undone.
    * Monotone in UNSIGNED hash order, which is what θ comparisons key
    * on; exact cutoff comparisons use [[xorMin]] instead (doubles lose
    * the low 11 bits). */
  private def unitHash(h: Column): Column =
    h.cast("double") / lit(TwoPow64) +
      when(h < 0, lit(1.0)).otherwise(lit(0.0))

  /** Unsigned comparison trick: XOR with Long.MinValue maps unsigned
    * order onto signed order exactly. */
  private def xorMin(h: Column): Column =
    h.bitwiseXOR(lit(Long.MinValue))

  /** (source, shingle-hash) stream for the KMV sketches — the SAME
    * hashed trigram shingles the exact [[sourceOverlap]] self-joins,
    * but with `source` carried THROUGH the shingle explosion instead
    * of joined back on doc_id afterwards: the sketch never needs the
    * doc identity, so the corpus-sized (shingle ⋈ doc_id) exchange the
    * exact form pays is deleted outright. */
  private def sourceShingleHashes(docs: DataFrame): DataFrame = {
    docs.select(col("source"), explode(ShingleHashesExpr.column(col("text"), 3)).as("shingle"))
  }

  /** Sketch → (θ, distinct estimate, retained sample). Theta-sketch
    * convention: a saturated sketch's k-th smallest value IS θ and is
    * excluded from the retained sample (`est = (k−1)/θ`); an
    * unsaturated sketch is exact (θ = 1, sample = the distinct set). */
  private[graft] def kmvSummary(sketches: DataFrame, k: Int): DataFrame =
    sketches
      .withColumn("kth",
        when(size(col("sk")) === k, element_at(col("sk"), k)))
      .withColumn("theta",
        when(col("kth").isNull, lit(1.0)).otherwise(unitHash(col("kth"))))
      .withColumn("est_distinct",
        when(col("kth").isNull, size(col("sk")).cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("theta")))
      .withColumn("retained",
        when(col("kth").isNull, col("sk")).otherwise(slice(col("sk"), 1, k - 1)))

  /** Cross-source distinct-shingle overlap ESTIMATED from per-source
    * KMV/Theta sketches — the 100 TB form of [[sourceOverlap]]. The
    * exact form's inverted-index self-join shuffles the whole distinct
    * (source, shingle) stream and pays the hot-shingle join product;
    * here the corpus is touched ONCE by a sketch aggregate whose state
    * is k longs per source, and ALL pairwise set algebra runs over the
    * S·k retained-hash rows (model-sized: S sources × 512 longs — at
    * any corpus size). Intersection estimator (DataSketches Theta
    * semantics, public): retained samples below θ_pair =
    * min(θ_a, θ_b) are a uniform sample of A ∩ B, so
    * `est_shared = |sample_a ∩ sample_b < θ_pair| / θ_pair`; the
    * estimate HLL structurally cannot give. Deterministic: the k
    * smallest distinct hashes are partition-order-invariant and every
    * double is computed in fixed expression order — but not
    * SQL-expressible (DuckDB lacks xxhash64), so this row is
    * rows-only and [[sourceOverlapKmvVerified]] is its hash-checked
    * gate (the sketch-gate program). Same 2^-64 hash-collision caveat
    * as the whole hashed-shingle family. */
  def sourceOverlapKmvOf(docs: DataFrame, k: Int = KmvK): DataFrame =
    kmvOverlapOfHashes(sourceShingleHashes(docs), k)

  /** The same estimator over ANY (source, shingle BIGINT-hash) stream —
    * the seam the ScaleR15 `kmv` sweep drives with synthetic hash
    * streams of known ground truth, so the measured path IS the
    * registered path. */
  private[graft] def kmvOverlapOfHashes(ss: DataFrame, k: Int = KmvK): DataFrame =
      Stage(ss.sparkSession) { st =>
    val sum = st.checkpoint(kmvSummary(
      ss.groupBy("source").agg(KmvSketchAgg.column(col("shingle"), k).as("sk")), k))
    val a = sum.select(col("source").as("source_a"), col("kth").as("kth_a"),
      col("theta").as("theta_a"), col("est_distinct").as("est_a"))
    val b = sum.select(col("source").as("source_b"), col("kth").as("kth_b"),
      col("theta").as("theta_b"), col("est_distinct").as("est_b"))
    val grid = a.crossJoin(broadcast(b)) // S² pair rows: model-sized
      .filter(col("source_a") < col("source_b"))
      .withColumn("kth_pair",
        when(col("kth_a").isNull, col("kth_b"))
          .when(col("kth_b").isNull, col("kth_a"))
          .otherwise(when(xorMin(col("kth_a")) <= xorMin(col("kth_b")),
            col("kth_a")).otherwise(col("kth_b"))))
      .withColumn("theta_pair", least(col("theta_a"), col("theta_b")))
    val ea = sum.select(col("source").as("source_a"), explode(col("retained")).as("h"))
    val eb = sum.select(col("source").as("source_b"), explode(col("retained")).as("h"))
    val sampled = ea.join(eb, "h")
      .filter(col("source_a") < col("source_b"))
      .join(broadcast(grid.select("source_a", "source_b", "kth_pair")),
        Seq("source_a", "source_b"))
      .filter(col("kth_pair").isNull ||
        xorMin(col("h")) < xorMin(col("kth_pair")))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_samp"))
    grid.join(sampled, Seq("source_a", "source_b"), "left")
      .withColumn("est_shared",
        coalesce(col("n_samp"), lit(0L)).cast("double") / col("theta_pair"))
      .withColumn("est_jaccard",
        col("est_shared") / (col("est_a") + col("est_b") - col("est_shared")))
      .select("source_a", "source_b", "theta_pair", "est_a", "est_b",
        "est_shared", "est_jaccard")
      .orderBy("source_a", "source_b")
  }

  def sourceOverlapKmv(spark: SparkSession, d: String): DataFrame =
    sourceOverlapKmvOf(Tables.documents(spark, d))

  /** Hash-checked gate for [[sourceOverlapKmv]]: the estimates land
    * within their published error bounds of the EXACT recompute (which
    * the oracle re-derives from the shingle strings). Bounds, one-sided
    * margin ~6σ plus a small-count absolute floor:
    * per-source `|est − exact| ≤ exact·6/√(k−2) + 8` (KMV relative
    * std), pair `|est_shared − exact| ≤ 6·√(exact·(1/θ_pair − 1)) + 8`
    * (binomial thinning of the intersection at rate θ_pair). The gate
    * pays brute-force ground truth by design — that IS the cost; a
    * broken merge, a lost retained hash, or an estimator regression
    * flips a boolean and hash-fails the row. */
  def sourceOverlapKmvVerified(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val k = KmvK
    val est = sourceOverlapKmvOf(docs, k)
    val ss = hashedShingles(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
      .select("source", "shingle").distinct()
    val sz = ss.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = ss.select(col("source").as("source_a"), col("shingle"))
      .join(ss.select(col("source").as("source_b"), col("shingle")), "shingle")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("exact_shared"))
    val relBound = 6.0 / math.sqrt((k - 2).toDouble)
    // the FULL S² grid, exact_shared coalesced to 0 — a disjoint pair
    // must still gate its estimate (a phantom-overlap regression on a
    // zero-intersection pair would otherwise never be bound-checked;
    // r14-session-2 review)
    sz.select(col("source").as("source_a"), col("n").as("exact_a"))
      .crossJoin(broadcast(
        sz.select(col("source").as("source_b"), col("n").as("exact_b"))))
      .filter(col("source_a") < col("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("exact_shared", coalesce(col("exact_shared"), lit(0L)))
      .join(est, Seq("source_a", "source_b"))
      .withColumn("sizes_within_bound",
        abs(col("est_a") - col("exact_a")) <=
          col("exact_a") * lit(relBound) + lit(8.0) &&
        abs(col("est_b") - col("exact_b")) <=
          col("exact_b") * lit(relBound) + lit(8.0))
      .withColumn("shared_within_bound",
        abs(col("est_shared") - col("exact_shared")) <=
          lit(6.0) * sqrt(greatest(col("exact_shared"), lit(1L)).cast("double") *
            greatest(lit(1.0) / col("theta_pair") - lit(1.0), lit(0.0))) + lit(8.0))
      .select("source_a", "source_b", "exact_a", "exact_b", "exact_shared",
        "sizes_within_bound", "shared_within_bound")
      .orderBy("source_a", "source_b")
  }

  /** DIRECTED set algebra over the same per-source KMV sketches —
    * difference and union, completing the Theta-sketch program
    * (VERDICT r14 #2): `est_novel_a ≈ |A ∖ B|` is the operator a
    * data-mixture builder actually reaches for ("how much of source X
    * is NOT already in my training mix"), and `est_union ≈ |A ∪ B|`
    * prices the combined corpus. Estimator (DataSketches a-not-b
    * semantics, public): below θ_pair = min(θ_a, θ_b) both retained
    * samples are uniform θ_pair-rate samples of their sets, so with
    * `n_a = |sample_a < θ_pair|`, `n_b` likewise and `n_samp` their
    * intersection count, `(n_a − n_samp)/θ_pair` estimates |A ∖ B| and
    * `(n_a + n_b − n_samp)/θ_pair` estimates |A ∪ B| — inclusion-
    * exclusion holds EXACTLY on the sample counts by construction.
    * `novelty_frac` is the sample-consistent |A∖B|/|A| ratio
    * (null when no A-sample survives below θ_pair — possible only
    * when θ_b ≪ θ_a at extreme asymmetry). Scale shape identical to
    * [[kmvOverlapOfHashes]]: one corpus pass into k-long sketch
    * states, then ALL pair algebra over S·k retained-hash rows with
    * the S² grid broadcast — model-sized at any corpus size. ORDERED
    * pairs (a ≠ b): difference is directional. Rows-only by design
    * (xxhash64 is not DuckDB-expressible);
    * [[sourceNoveltyKmvVerified]] is the hash-checked gate. */
  private[graft] def kmvNoveltyOfHashes(ss: DataFrame,
      k: Int = KmvK): DataFrame =
    kmvNoveltyOfSummaries(kmvSourceSummaries(ss, k), k)

  /** The per-source sketch pass — ONE corpus scan into k-long KMV
    * states, summarized and materialized (localCheckpoint), so every
    * downstream consumer (pair algebra, mix policy, union re-sketch)
    * reads the model-sized S-row summary instead of rescanning the
    * corpus. */
  private[graft] def kmvSourceSummaries(ss: DataFrame, k: Int = KmvK): DataFrame =
    Stage(ss.sparkSession)(_.checkpoint(kmvSummary(
      ss.groupBy("source").agg(KmvSketchAgg.column(col("shingle"), k).as("sk")), k)))

  /** The ordered-pair difference/union algebra over an already-
    * materialized summary frame — everything here touches only S·k
    * retained-hash rows and the broadcast S² grid. */
  private[graft] def kmvNoveltyOfSummaries(sum: DataFrame,
      k: Int = KmvK): DataFrame = {
    val a = sum.select(col("source").as("source_a"), col("kth").as("kth_a"),
      col("theta").as("theta_a"), col("est_distinct").as("est_a"))
    val b = sum.select(col("source").as("source_b"), col("kth").as("kth_b"),
      col("theta").as("theta_b"), col("est_distinct").as("est_b"))
    val grid = a.crossJoin(broadcast(b)) // S² ordered pair rows: model-sized
      .filter(col("source_a") =!= col("source_b"))
      .withColumn("kth_pair",
        when(col("kth_a").isNull, col("kth_b"))
          .when(col("kth_b").isNull, col("kth_a"))
          .otherwise(when(xorMin(col("kth_a")) <= xorMin(col("kth_b")),
            col("kth_a")).otherwise(col("kth_b"))))
      .withColumn("theta_pair", least(col("theta_a"), col("theta_b")))
    val pairKth = broadcast(grid.select("source_a", "source_b", "kth_pair"))
    val ra = sum.select(col("source").as("source_a"),
      explode(col("retained")).as("h"))
    val rb = sum.select(col("source").as("source_b"),
      explode(col("retained")).as("h"))
    def underPair(c: Column) =
      col("kth_pair").isNull || xorMin(c) < xorMin(col("kth_pair"))
    // per-(pair, side) sample counts below θ_pair: S·k retained rows ×
    // (S−1) pair partners — still model-sized
    val belowA = ra.join(pairKth, Seq("source_a"))
      .filter(underPair(col("h")))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_a"))
    val belowB = rb.join(pairKth, Seq("source_b"))
      .filter(underPair(col("h")))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_b"))
    val shared = ra.join(rb, "h")
      .filter(col("source_a") =!= col("source_b"))
      .join(pairKth, Seq("source_a", "source_b"))
      .filter(underPair(col("h")))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_samp"))
    grid.join(belowA, Seq("source_a", "source_b"), "left")
      .join(belowB, Seq("source_a", "source_b"), "left")
      .join(shared, Seq("source_a", "source_b"), "left")
      .withColumn("n_a", coalesce(col("n_a"), lit(0L)))
      .withColumn("n_b", coalesce(col("n_b"), lit(0L)))
      .withColumn("n_samp", coalesce(col("n_samp"), lit(0L)))
      .withColumn("est_novel_a",
        (col("n_a") - col("n_samp")).cast("double") / col("theta_pair"))
      .withColumn("est_union",
        (col("n_a") + col("n_b") - col("n_samp")).cast("double") /
          col("theta_pair"))
      .withColumn("novelty_frac",
        when(col("n_a") > 0,
          (col("n_a") - col("n_samp")).cast("double") / col("n_a")))
      .select("source_a", "source_b", "theta_pair", "est_a", "est_b",
        "est_novel_a", "est_union", "novelty_frac")
      .orderBy("source_a", "source_b")
  }

  def sourceNoveltyKmvOf(docs: DataFrame, k: Int = KmvK): DataFrame =
    kmvNoveltyOfHashes(sourceShingleHashes(docs), k)

  def sourceNoveltyKmv(spark: SparkSession, d: String): DataFrame =
    sourceNoveltyKmvOf(Tables.documents(spark, d))

  /** Mix membership policy for the registered [[mixCoverageKmv]]: the
    * lexicographically FIRST HALF of the source axis stands in for
    * "the sources already in my training mix" — deterministic, and
    * mirrored verbatim by the DuckDB gate (ROW_NUMBER ≤ n div 2 over
    * the sorted distinct sources). The axis is the SHINGLE-BEARING
    * sources (the sources the sketch summaries actually see — same
    * axis as [[coverageCurveKmv]]), sorted by the ENGINE's binary
    * UTF-8 collation, and all three consumers — estimator, gate,
    * oracle — derive it identically (ADVICE r16: the estimator used
    * to halve the shingle-bearing axis under Java UTF-16 `.sorted`
    * while gate and oracle halved ALL document sources, so an
    * all-short-doc source or a non-BMP name shifted the mix under one
    * but not the others). Input is the (source, shingle) stream, not
    * the documents frame, for exactly that reason. */
  private[graft] def mixSources(ss: DataFrame): Set[String] = {
    val srcs = ss.select("source").distinct().orderBy("source")
      .collect().map(_.getString(0)) // #sources rows — model-sized
    srcs.take(srcs.length / 2).toSet
  }

  /** MIX COVERAGE — the question a mixture builder actually asks of a
    * candidate source: how much of source X is already covered by the
    * UNION of everything in my training mix, and how much is novel?
    * The union never needs its own corpus pass: the k smallest of a
    * union = the k smallest of the members' pooled sketch values (the
    * sketch-union law KmvSketchSpec pins), so the mix-union sketch is
    * re-sketched from the mix members' pooled `sk` arrays — S·k rows,
    * model-sized — and the directed-difference estimator
    * [[kmvNoveltyOfSummaries]] does the rest. ONE corpus scan total
    * (VERDICT r15 #5): the per-source summaries are materialized by
    * [[kmvSourceSummaries]], and both the mix policy (first half of
    * the sorted source axis, the DuckDB-mirrored rule) and the union
    * sketch are derived from that model-sized summary frame, never
    * from the corpus again. A corpus with fewer than two sources has
    * an empty mix and returns an EMPTY frame (ADVICE r15: the old
    * `require` crashed while the oracle returned rows); the mix
    * pseudo-source's internal label is chosen to collide with no real
    * source name and never appears in the output. Output per
    * candidate (non-mix) source: distinct/mix-size/novel/union
    * estimates and the sample-consistent `coverage_frac`
    * (= 1 − novelty fraction; null only when no candidate sample
    * survives below θ_pair). Rows-only (xxhash64);
    * [[mixCoverageKmvVerified]] is the hash-checked gate. */
  def mixCoverageKmv(spark: SparkSession, d: String): DataFrame =
    mixCoverageKmvOf(Tables.documents(spark, d))

  private[graft] def mixCoverageKmvOf(docs: DataFrame,
      k: Int = KmvK): DataFrame =
    mixCoverageOfHashes(sourceShingleHashes(docs), k)

  /** The mix-coverage estimator over ANY (source, shingle BIGINT-hash)
    * stream — the unit-law seam, like [[kmvNoveltyOfHashes]] (and the
    * seam the `Scale mixcov` octave sweep drives with closed-form
    * synthetic streams). */
  private[graft] def mixCoverageOfHashes(ss: DataFrame,
      k: Int = KmvK): DataFrame = Stage(ss.sparkSession) { st =>
    val sum = kmvSourceSummaries(ss, k)
    // model-sized collect from the CHECKPOINTED summaries — the mix
    // policy costs one S-row job, not a corpus rescan. Sorted by the
    // ENGINE (binary UTF-8 collation), never Scala's UTF-16 `.sorted`,
    // so the halving agrees with the gate/oracle axis (ADVICE r16)
    val srcs = sum.select("source").orderBy("source")
      .collect().map(_.getString(0))
    val mix = srcs.take(srcs.length / 2).toSet
    val out = if (mix.isEmpty) {
      // degenerate corpus (< 2 sources): nothing to cover against
      sum.sparkSession.emptyDataFrame
        .withColumn("source", lit("").cast("string"))
        .withColumn("theta_pair", lit(0.0))
        .withColumn("est_distinct", lit(0.0))
        .withColumn("est_mix", lit(0.0))
        .withColumn("est_novel", lit(0.0))
        .withColumn("est_union", lit(0.0))
        .withColumn("coverage_frac", lit(0.0))
        .limit(0)
    } else {
      // internal label for the mix union row — deterministically
      // distinct from every real source, so a source literally named
      // "__mix" stays an ordinary candidate (ADVICE r15)
      val mixLabel = Iterator.iterate("__mix")(_ + "#")
        .find(l => !srcs.contains(l)).get
      // the union summary row is consumed 4× by the pair algebra
      // (a/b sides + both retained explosions) — materialize the
      // model-sized row once rather than re-running its sketch agg
      // per consumer (bench: 0.4 s of pure job-overhead otherwise)
      val mixSum = st.checkpoint(kmvUnionSummary(sum, mix, mixLabel, k))
      val candSum = sum.filter(!col("source").isInCollection(mix))
      kmvNoveltyOfSummaries(candSum.unionByName(mixSum), k)
        .filter(col("source_b") === mixLabel)
        .select(col("source_a").as("source"), col("theta_pair"),
          col("est_a").as("est_distinct"), col("est_b").as("est_mix"),
          col("est_novel_a").as("est_novel"), col("est_union"),
          (lit(1.0) - col("novelty_frac")).as("coverage_frac"))
        .orderBy("source")
    }
    out
  }

  /** Union of member sketches WITHOUT touching the raw stream — the
    * sketch-union law (KmvSketchSpec): the union's i-th smallest
    * distinct value (i ≤ k) is within its member's k smallest, so
    * re-sketching the members' pooled `sk` arrays (NOT `retained`,
    * which drops each member's kth value — the union's k-th smallest
    * may BE a member's kth) yields exactly the sketch a
    * relabel-before-aggregate pass over the raw stream would have
    * built. Input is the model-sized summary frame; output is one
    * summary row labeled `label`. */
  private[graft] def kmvUnionSummary(sum: DataFrame, members: Set[String],
      label: String, k: Int = KmvK): DataFrame = {
    kmvSummary(
      sum.filter(col("source").isInCollection(members))
        .select(explode(col("sk")).as("shingle"))
        .groupBy(lit(label).as("source"))
        .agg(KmvSketchAgg.column(col("shingle"), k).as("sk")), k)
  }

  /** COVERAGE CURVE — the corpus-growth / dedup-saturation question:
    * as sources are added in a fixed order, how fast does the union's
    * distinct mass grow, and how much NOVEL mass does each source
    * bring? (The curve a mixture builder reads to see where new data
    * stops paying.) Order is the lexicographic source axis —
    * deterministic and mirrored verbatim by the gate's oracle. All S
    * prefix-union sketches come from ONE corpus pass, re-sketched
    * from the per-source summaries' pooled `sk` arrays (the union
    * law) under a size-gated plan (VERDICT r16 #3): rank-explode
    * (S²·k/2 rows, one job) at small S, segment-halving dyadic
    * unions (O(S·k·log₂S) rows) above [[CurveDyadicCrossover]] —
    * bit-identical curves either way, so the gate and oracle are
    * arm-blind. Model-sized at ANY corpus size AND any source count.
    * Output per
    * rank: the added source, the union estimate, and its marginal
    * (difference of adjacent union estimates — the lag window runs
    * over S rows). Rows-only (xxhash64);
    * [[coverageCurveKmvVerified]] is the hash-checked gate. */
  def coverageCurveKmv(spark: SparkSession, d: String): DataFrame =
    coverageCurveKmvOf(Tables.documents(spark, d))

  private[graft] def coverageCurveKmvOf(docs: DataFrame,
      k: Int = KmvK): DataFrame =
    coverageCurveOfHashes(sourceShingleHashes(docs), k)

  /** Size gate for the curve's prefix-union plan (VERDICT r16 #3): at
    * or below this many sources the single-job rank-explode (S²·k/2
    * pooled rows) is the cheap arm — one wide-but-model-sized
    * aggregate, no extra job scheduling; above it the quadratic row
    * count is the scale-killer the r16 verdict flagged (~2.6×10¹⁰
    * rows at 10⁴ sources) and the DYADIC plan takes over at
    * O(S·k·log₂S) rows across ⌈log₂S⌉ model-sized jobs. Measured
    * (`Scale curve`, SCALE.md §r17, within-process A/Bs): explode
    * wins at S=32 (2.1 vs 3.4 s) and S=64 (1.2 vs 1.9 s), dyadic
    * from S=128 (19.7 vs 23.2 s) and 1.7× at S=512 (36.6 vs 61.2 s);
    * dyadic-only same-process S=512 → 2048 reads 7.1 → 5.8 s — flat
    * in S, where the explode arm would pool 1.07 G rows. Gates only
    * WHICH plan builds the prefix sketches — the
    * pooled value SETS per prefix are equal, kmv_sketch dedups, so
    * the output curve is bit-identical under either arm (law pinned
    * in KmvSketchSpec both sides of the cutover). */
  private[graft] val CurveDyadicCrossover: Long = 64L

  /** The curve over ANY (source, shingle BIGINT-hash) stream — the
    * unit-law seam, like [[kmvNoveltyOfHashes]]. */
  private[graft] def coverageCurveOfHashes(ss: DataFrame,
      k: Int = KmvK, crossover: Long = CurveDyadicCrossover): DataFrame =
      Stage(ss.sparkSession) { st =>
    import org.apache.spark.sql.expressions.Window
    val sum = kmvSourceSummaries(ss, k)
    val ranked = st.checkpoint(sum // S rows: model-sized
      .withColumn("rnk",
        row_number().over(Window.orderBy("source")).cast("long")))
    val nSrc = ranked.count() // S-row job on the checkpoint, never the corpus
    val prefixes = kmvSummary(
      if (nSrc <= crossover) prefixSketchesExplode(ranked, nSrc, k)
      else prefixSketchesDyadic(ranked, nSrc, k), k)
      .select(col("k"), col("est_distinct").as("est_union"))
    val wk = org.apache.spark.sql.expressions.Window.orderBy("k") // S rows
    prefixes
      .join(ranked.select(col("rnk").as("k"), col("source")), "k")
      .withColumn("est_marginal",
        col("est_union") - coalesce(lag(col("est_union"), 1).over(wk), lit(0.0)))
      .select("k", "source", "est_union", "est_marginal")
      .orderBy("k")
  }

  /** Small-S prefix-sketch arm: every source's retained `sk` values
    * exploded to every prefix ≥ its rank, one `kmv_sketch` per prefix
    * — S²·k/2 pooled rows in a single job. Quadratic in S, which is
    * exactly why [[CurveDyadicCrossover]] bounds it. */
  private def prefixSketchesExplode(ranked: DataFrame, nSrc: Long, k: Int): DataFrame =
    ranked.select(col("rnk"), explode(col("sk")).as("h"))
      .select(explode(expr(s"sequence(rnk, ${nSrc}L)")).as("k"), col("h"))
      .groupBy("k").agg(KmvSketchAgg.column(col("h"), k).as("sk"))

  /** Large-S prefix-sketch arm (VERDICT r16 #3): segment-halving
    * unions. Level j holds one sketch per aligned dyadic range
    * ((m−1)·2ʲ, m·2ʲ] of the source-rank axis, each level re-sketched
    * from the previous level's pooled `sk` arrays (the union law —
    * exact, like [[kmvUnionSummary]], and composable: a union of
    * exact union-sketches is the exact sketch of the union). A prefix
    * (0, p] then decomposes into the ⌈log₂S⌉ aligned ranges given by
    * p's binary digits — the standard Fenwick prefix cover, computed
    * driver-side as S·log₂S (p, width, m) tuples, model-sized — and
    * one `kmv_sketch` per prefix over the covers' pooled values
    * finishes. Total pooled rows O(S·k·log₂S) across ⌈log₂S⌉+1
    * model-sized jobs (each level is localCheckpoint'd: it feeds both
    * the next level and the cover join). The pooled value SET per
    * prefix equals the explode arm's, so the sketches — and the
    * emitted curve — are bit-identical. */
  private def prefixSketchesDyadic(ranked: DataFrame, nSrc: Long, k: Int): DataFrame =
      Stage(ranked.sparkSession) { st =>
    val spark = ranked.sparkSession
    import spark.implicits._
    // levels(j): (width = 2^j, one row per range index m with its sketch)
    val levels = scala.collection.mutable.ArrayBuffer[(Long, DataFrame)]()
    var cur = ranked.select(col("rnk").as("m"), col("sk")) // checkpointed above
    var width = 1L
    levels += ((width, cur))
    while (width < nSrc) {
      // ≤ ⌈S/2ʲ⌉ rows of k longs: model-sized
      cur = st.checkpoint(cur.select(expr("(m + 1) div 2").as("m"), explode(col("sk")).as("h"))
        .groupBy("m").agg(KmvSketchAgg.column(col("h"), k).as("sk")))
      width *= 2
      levels += ((width, cur))
    }
    val tagged = levels.map { case (w, df) =>
      df.select(lit(w).as("w"), col("m"), col("sk"))
    }.reduce(_ unionByName _)
    // binary prefix decomposition, driver-side: p = Σ 2^{j_t} descending
    // ⇒ ranges (end−2^{j_t}, end] are aligned because every earlier term
    // is a larger power of two
    val cover = (1L to nSrc).flatMap { p =>
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      var end = 0L
      var j = 62
      while (j >= 0) {
        val w = 1L << j
        if ((p & w) != 0L) { end += w; out += ((p, w, end / w)) }
        j -= 1
      }
      out
    }.toDF("k", "w", "m")
    tagged.join(broadcast(cover), Seq("w", "m"))
      .select(col("k"), explode(col("sk")).as("h"))
      .groupBy("k").agg(KmvSketchAgg.column(col("h"), k).as("sk"))
  }

  /** Hash-checked gate for [[coverageCurveKmv]]: exact union and
    * marginal masses recomputed from the shingle strings via the
    * min-rank trick (exact_union(k) = Σ_{r ≤ k} #shingles whose
    * MINIMUM source rank is r — one distinct pass + one S-row cumsum,
    * never S unions), estimates bound by the per-source KMV law
    * (|est − exact| ≤ exact·6/√(k−2) + 8; the marginal — a difference
    * of two union estimates — gets the triangle sum of both bounds).
    * The DuckDB oracle mirrors the min-rank program verbatim. */
  def coverageCurveKmvVerified(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    import org.apache.spark.sql.expressions.Window
    val est = coverageCurveKmvOf(docs)
    val ss = hashedShingles(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
      .select("source", "shingle").distinct()
    val ranks = ss.select("source").distinct()
      .withColumn("rnk",
        row_number().over(Window.orderBy("source")).cast("long")) // S rows
    val minRank = ss.join(ranks, "source")
      .groupBy("shingle").agg(min(col("rnk")).as("mr"))
      .groupBy("mr").agg(count(lit(1)).as("c"))
    val wk = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val relBound = 6.0 / math.sqrt((KmvK - 2).toDouble)
    ranks.select(col("rnk").as("k"), col("source"))
      .join(minRank.select(col("mr").as("k"), col("c")), Seq("k"), "left")
      .withColumn("exact_marginal", coalesce(col("c"), lit(0L)))
      .withColumn("exact_union", sum(col("exact_marginal")).over(wk))
      .join(est, Seq("k", "source"))
      .withColumn("union_within_bound",
        abs(col("est_union") - col("exact_union")) <=
          col("exact_union") * lit(relBound) + lit(8.0))
      .withColumn("marginal_within_bound",
        abs(col("est_marginal") - col("exact_marginal")) <=
          (col("exact_union") +
            coalesce(lag(col("exact_union"), 1).over(Window.orderBy("k")),
              lit(0L))) * lit(relBound) + lit(16.0))
      .select("k", "source", "exact_union", "exact_marginal",
        "union_within_bound", "marginal_within_bound")
      .orderBy("k")
  }

  /** Hash-checked gate for [[mixCoverageKmv]] — the novelty gate's
    * bound program applied to the candidate-vs-mix-union rows: exact
    * |A|, |M|, |A∖M|, |A∪M| recomputed brute-force from the shingle
    * strings under the SAME mix policy, difference and union estimates
    * bound by binomial thinning at θ_pair. */
  def mixCoverageKmvVerified(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val est = mixCoverageKmvOf(docs)
    // membership filtering, no sentinel relabel — a source named
    // "__mix" is just another candidate (ADVICE r15)
    val ss = hashedShingles(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
      .select("source", "shingle").distinct()
    // mix derived from the SAME shingle-bearing axis as the estimator
    // and the oracle (ADVICE r16)
    val mix = mixSources(ss)
    val mixSet = ss.filter(col("source").isInCollection(mix))
      .select("shingle").distinct()
    val cand = ss.filter(!col("source").isInCollection(mix))
    val mixN = mixSet.count()
    val inter = cand.join(mixSet, Seq("shingle"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("exact_shared"))
    def bound(exact: Column) =
      lit(6.0) * sqrt(greatest(exact, lit(1L)).cast("double") *
        greatest(lit(1.0) / col("theta_pair") - lit(1.0), lit(0.0))) + lit(8.0)
    cand.groupBy("source").agg(count(lit(1)).as("exact_distinct"))
      .join(inter, Seq("source"), "left")
      .withColumn("exact_shared", coalesce(col("exact_shared"), lit(0L)))
      .withColumn("exact_mix", lit(mixN))
      .withColumn("exact_novel", col("exact_distinct") - col("exact_shared"))
      .withColumn("exact_union",
        col("exact_distinct") + col("exact_mix") - col("exact_shared"))
      .join(est, Seq("source"))
      .withColumn("novel_within_bound",
        abs(col("est_novel") - col("exact_novel")) <=
          bound(col("exact_novel")))
      .withColumn("union_within_bound",
        abs(col("est_union") - col("exact_union")) <=
          bound(col("exact_union")))
      .select("source", "exact_distinct", "exact_mix", "exact_novel",
        "exact_union", "novel_within_bound", "union_within_bound")
      .orderBy("source")
  }

  /** Hash-checked gate for [[sourceNoveltyKmv]], the same 6σ-bound
    * program as [[sourceOverlapKmvVerified]]: exact |A∖B| and |A∪B|
    * recomputed brute-force from the shingle strings, the estimates
    * bound by binomial thinning at rate θ_pair —
    * `|est − exact| ≤ 6·√(exact·(1/θ_pair − 1)) + 8` for both columns
    * (the below-θ_pair count of a W-sized set is Binomial(W, θ_pair),
    * σ_est = √(W·(1/θ−1)); +8 absorbs the small-count floor). FULL
    * ordered grid including disjoint pairs, so a phantom regression on
    * any pair hash-fails a boolean. */
  def sourceNoveltyKmvVerified(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val est = sourceNoveltyKmvOf(docs, KmvK)
    val ss = hashedShingles(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
      .select("source", "shingle").distinct()
    val sz = ss.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = ss.select(col("source").as("source_a"), col("shingle"))
      .join(ss.select(col("source").as("source_b"), col("shingle")), "shingle")
      .filter(col("source_a") =!= col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("exact_shared"))
    def bound(exact: Column) =
      lit(6.0) * sqrt(greatest(exact, lit(1L)).cast("double") *
        greatest(lit(1.0) / col("theta_pair") - lit(1.0), lit(0.0))) + lit(8.0)
    sz.select(col("source").as("source_a"), col("n").as("exact_a"))
      .crossJoin(broadcast(
        sz.select(col("source").as("source_b"), col("n").as("exact_b"))))
      .filter(col("source_a") =!= col("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("exact_shared", coalesce(col("exact_shared"), lit(0L)))
      .withColumn("exact_novel_a", col("exact_a") - col("exact_shared"))
      .withColumn("exact_union",
        col("exact_a") + col("exact_b") - col("exact_shared"))
      .join(est, Seq("source_a", "source_b"))
      .withColumn("novel_within_bound",
        abs(col("est_novel_a") - col("exact_novel_a")) <=
          bound(col("exact_novel_a")))
      .withColumn("union_within_bound",
        abs(col("est_union") - col("exact_union")) <=
          bound(col("exact_union")))
      .select("source_a", "source_b", "exact_a", "exact_b",
        "exact_novel_a", "exact_union",
        "novel_within_bound", "union_within_bound")
      .orderBy("source_a", "source_b")
  }

  // ---------- decontamination ----------

  /** Benchmark decontamination — the eval-overlap check a training
    * pipeline runs before shipping a corpus (the C4/Dolma n-gram rule):
    * for every training document, how many of its distinct trigram
    * shingles also appear anywhere in the held-out eval set (here:
    * source `src0` stands in for the benchmark suite). Downstream, docs
    * with n_shared above a policy threshold get dropped or masked.
    *
    * Scale shape: eval sets are bounded (benchmarks, not corpora), so
    * the distinct eval-shingle set is BROADCAST and the whole check is
    * one map-side semi join over the training shingle stream + one
    * count aggregate — the 100 TB side never shuffles on the shingle.
    * Same 64-bit hashed shingles as the dedup family (string oracle;
    * 2^-64 collision caveat accepted and documented there). */
  def decontaminate(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val evalSh = hashedShingles(docs.filter(col("source") === "src0"))
      .select("shingle").distinct()
    hashedShingles(docs.filter(col("source") =!= "src0"))
      .join(broadcast(evalSh), Seq("shingle"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Containment near-dup pairs — the DIRECTIONAL overlap measure
    * (Broder's containment, `|A∩B| / min(|A|,|B|)` for the stronger
    * direction): a short document quoted or embedded inside a longer
    * one scores ~1 here while its symmetric Jaccard can be arbitrarily
    * small, so this is the dedup pass that catches near-subset
    * duplication (boilerplate wrappers, quote-expansions) that
    * [[ngramJaccard]] structurally cannot. Same inverted-index
    * equi-join shape — never all-pairs.
    *
    * Scale note: the PPJoin prefix filter ([[ngramJaccardPrefixOf]])
    * does NOT carry over unchanged — containment admits no fixed
    * overlap lower bound from the pair's sizes alone, so the 100 TB
    * candidate pruner is size-stratified LSH (band the SMALLER set's
    * signature; a contained set's minhashes are a subsample of the
    * container's) or the [[decontaminate]] broadcast shape when one
    * side is small. */
  def containmentPairs(spark: SparkSession, d: String, t: Double = 0.9): DataFrame =
    containmentOf(Tables.documents(spark, d), t)

  /** Same over any (doc_id, text) frame. */
  def containmentOf(docs: DataFrame, t: Double = 0.9): DataFrame = Stage(docs.sparkSession) { st =>
    // unrestricted self-join — keyed by shingle, same argument as
    // [[ngramJaccardOf]] (r18)
    val sh = st.byKeys(hashedShingles(docs), "shingle")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
      .withColumn("containment",
        col("n_inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= t)
      .select("doc_a", "doc_b", "containment")
      .orderBy("doc_a", "doc_b")
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash per doc over distinct word features: bit b is set iff
    * sum over features of (bit b of xxhash64(token) ? +1 : -1) > 0.
    * One [[graft.functions.SimHashAgg]] sketch aggregate (64-counter
    * buffer, partial+final) instead of 64 separate conditional sums. */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    // n=1 shingle_hashes = distinct raw token hashes in one pass —
    // value-identical to array_distinct(split) + xxhash64 per token
    // (distinct by hash vs by string: 2^-64 caveat as everywhere)
    docs
      .select(col("doc_id"), explode(ShingleHashesExpr.column(col("text"), 1)).as("h"))
      .groupBy("doc_id")
      .agg(SimHashAgg.column(col("h")).as("simhash"))
  }

  /** The 64-bit fingerprint split into `nBands` equal bands: by the
    * pigeonhole principle, a pair within Hamming distance `nBands − 1`
    * must agree (collide) on at least one band — the SimHash analog of
    * MinHash LSH banding. */
  private def simhashBanded(fp: DataFrame, nBands: Int): DataFrame = {
    val width = 64 / nBands
    val mask = (1L << width) - 1
    fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          expr(s"(simhash >> ${b * width}) & $mask").as("bkey"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** SimHash near-dup pairs: 4 × 16-bit band join (a pair within Hamming
    * distance 3 of each other must agree on at least one band), then
    * exact Hamming filter via bit_count(xor). Sketch-based → rows-only
    * check (no SQL oracle); the exact-verified form with a hash-matched
    * oracle is [[simhashVerified]]. */
  def simhashPairs(spark: SparkSession, d: String): DataFrame = Stage(spark) { st =>
    // materialized ONCE, keyed by (band, bkey) (r18): the fingerprint
    // aggregate + banding ran once per self-join side and the join
    // exchanged both scans
    val banded = st.byKeys(
      simhashBanded(simhashFingerprints(Tables.documents(spark, d)), 4),
      "band", "bkey")
    banded.select(col("doc_id").as("doc_a"), col("simhash").as("fa"), col("band"), col("bkey"))
      .join(banded.select(col("doc_id").as("doc_b"), col("simhash").as("fb"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("cast(bit_count(fa ^ fb) as bigint)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** The SimHash RECALL GATE — the driver-visible quality bound the
    * sketch family was missing: exact trigram-Jaccard ≥ 0.8 pairs
    * (inverted-index join, near-linear on this near-unique-shingle
    * corpus) SEMI-JOINED to the SimHash band-collision candidates.
    * The result hash-matches the exhaustive oracle ([[jaccardSql]])
    * if and only if the sketch's candidate net lost no true near-dup —
    * a lost pair shrinks the result and turns the driver row red, which
    * is exactly what a quality gate is for.
    *
    * Why a gate instead of an LSH-then-verify pipeline like
    * [[minhashLsh]]: 64-bit word-unigram SimHash is a COARSE net for
    * trigram Jaccard on short documents — measured on this corpus,
    * 0.8-Jaccard pairs land past Hamming 7 (the scale-correct 4 × 16
    * banding of [[simhashPairs]] recalls only 17 of the 25 sf0.01
    * pairs), and the 8 × 8-bit net that does recall them all produces
    * ~16M collision pairs at a 5000-doc corpus if materialized — fine
    * SimHash nets don't scale, scalable nets are coarse. MinHash LSH
    * ([[minhashLsh]]) therefore remains the production 0.8-Jaccard
    * path, and SimHash stays the Hamming-≤ 3 near-identity detector.
    *
    * The gate itself never materializes candidates: membership of a
    * KNOWN pair in the 8-band net is a scalar test on its two
    * fingerprints — some band of `fa XOR fb` is all zeros — so the
    * audit joins fingerprints onto the pairs under test and filters,
    * at O(pairs audited) cost. At 100 TB the same shape audits any
    * pair sample against any band layout without a candidate join. */
  def simhashVerified(spark: SparkSession, d: String): DataFrame = Stage(spark) { st =>
    val docs = Tables.documents(spark, d)
    val sh = st.checkpoint(hashedShingles(docs))
    val exact = jaccardOf(sh, None).filter(col("jaccard") >= 0.8)
    val fp = simhashFingerprints(docs)
    val anyBandAgrees = (0 until 8)
      .map(b => expr(s"((fa ^ fb) >> ${b * 8}) & 255") === 0)
      .reduce(_ || _)
    exact
      .join(fp.select(col("doc_id").as("doc_a"), col("simhash").as("fa")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("simhash").as("fb")), "doc_b")
      .filter(anyBandAgrees)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  // ---------- duplicated-span scrub (ExactSubstr-style) ----------

  /** Cross-document duplicated-SPAN removal — the sub-document sibling of
    * whole-document dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better": duplicated substrings, not just duplicated
    * documents, drive memorization; their ExactSubstr pass removes the
    * repeated span and keeps the rest of the document). A k-token gram
    * occurring in >= `minDocs` DISTINCT documents marks all k of its
    * token positions covered; covered tokens are dropped and the
    * survivors re-joined in original order.
    *
    * Scale shape: the gram stream carries 8-byte xxhash64 keys, never
    * gram strings (~5x narrower shuffle than shipping the text);
    * duplicated-gram detection is one map-side-combinable distinct-doc
    * count per hash; marking is an equi-join of the gram stream against
    * the duplicated-hash sliver; reassembly is one shuffle on doc_id.
    * Nothing is all-pairs and no stage keys on raw text. A 64-bit hash
    * collision can over-scrub an innocent span (never under-scrub a true
    * duplicate) at ~n²/2⁶⁴ odds — the trade every production
    * substring-dedup makes vs. suffix-array exactness. */
  def spanScrub(spark: SparkSession, d: String): DataFrame =
    spanScrubOf(Tables.documents(spark, d))

  def spanScrubOf(docs: DataFrame, k: Int = 5, minDocs: Int = 2): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
    // one row per k-gram: (doc_id, 1-based start position, gram hash).
    // The native positional kernel emits the chained hash per start
    // index in one byte-scan pass — no gram strings, no intermediate
    // arrays (vs. the transform/slice/array_join HOF chain, which
    // copies ~k tokens per gram just to hash them).
    val grams = docs
      .select(col("doc_id"),
        posexplode(GramPosHashesExpr.column(col("text"), k)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("i"), col("g"))
    val dup = grams.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("g")
    val covered = grams.join(dup, "g")
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (k - 1))).as("p"))
      .distinct()
    val positions = toks
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("tok"))
    val kept = positions.join(covered, Seq("doc_id", "p"), "left_anti")
    val agg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      // collect_list order is nondeterministic; array_sort on the
      // (position, token) struct restores document order exactly
      array_join(
        expr("transform(array_sort(collect_list(struct(p, tok))), x -> x.tok)"),
        " ").as("scrubbed_text"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).cast("long").as("n_scrubbed"),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"))
      .orderBy("doc_id")
  }

  // ---------- merge-on-read mutations ----------

  /** MERGE-ON-READ corpus mutation — the upsert/delete surface a
    * managed corpus needs (takedown requests, right-to-be-forgotten
    * deletes, per-document revisions) over immutable parquet, i.e.
    * the discipline the reference's MergeTree tables get from
    * ReplacingMergeTree-style mutations. The store stays append-only:
    * a CHANGELOG of (doc_id, seq, op ∈ upsert|delete, source, text)
    * rows accumulates beside the base table, and the read path folds
    * it in:
    *
    *  1. newest-wins per key: one hash aggregate over the changelog,
    *     `min(struct(-seq, op, …))` so the highest seq (then 'delete'
    *     before 'upsert' on the — contractually absent — tie) decides;
    *  2. base rows with ANY change row drop out via an anti join
    *     (tombstoned or superseded);
    *  3. surviving upserts union in (inserts are upserts of new keys).
    *
    * Scale shape: the changelog is a sliver (mutations are rare), so
    * the anti join broadcasts it; with base and changelog both
    * bucketed on doc_id ([[graft.Catalog.createBucketed]]) the whole
    * read plans zero-exchange. Compaction = write the merged frame,
    * swap, truncate the changelog (the [[graft.ingest.EventSink
    * .compactMonth]] write-aside recipe) — a delete is PHYSICAL only
    * after compaction, which is exactly the GDPR story at 100 TB:
    * tombstone now (one appended row), rewrite the affected files on
    * the compaction schedule. */
  def applyChangesOf(base: DataFrame, changes: DataFrame): DataFrame = {
    val latest = changes
      .groupBy("doc_id")
      .agg(min(struct((-col("seq")).as("ns"), col("op"),
        col("source"), col("text"))).as("w"))
      .select(col("doc_id"), col("w.op").as("op"),
        col("w.source").as("source"), col("w.text").as("text"))
    base.select("doc_id", "source", "text")
      .join(latest.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(latest.filter(col("op") === "upsert")
        .select("doc_id", "source", "text"))
  }

  /** Changelog COMPACTION: fold the accumulated changelog into the
    * base table physically (the moment a tombstoned document's bytes
    * actually leave disk) and empty the changelog. Same
    * write-aside-then-swap discipline as [[graft.ingest.EventSink]]'s
    * month compactor — no state where data exists in zero places — and
    * the same self-heal: a crash between the two renames is recovered
    * by putting the aside copy back before redoing the rewrite.
    *
    * Ordering is swap-base-FIRST, delete-changelog-last, which is
    * crash-safe because re-applying a changelog to an already-merged
    * base is IDEMPOTENT: its deletes hit absent keys (no-op) and its
    * winning upserts rewrite identical rows — so a crash in the window
    * after the swap merely costs one redundant re-merge on the next
    * run, never a wrong table (the spec pins this replay). A missing
    * or empty changelog is a NO-OP, not an error — that is exactly the
    * state a crash after the final changelog delete leaves behind, and
    * rerunning the compactor must converge, not throw.
    *
    * Filesystem contract: the swap's crash-safety rests on ATOMIC
    * DIRECTORY RENAME, which HDFS and POSIX filesystems provide and
    * object stores (S3 et al.) do NOT — there `rename` is a
    * non-atomic copy+delete and a crash mid-"rename" can expose a
    * partial directory. On an object store — or whenever concurrent
    * readers may LIST mid-swap — use
    * [[graft.ingest.SnapshotStore.compactChanges]] instead: the same
    * fold behind a single-file manifest-pointer swap, with a
    * racing-reader spec proving old-or-new-never-mixed reads. */
  def compactChanges(spark: SparkSession, basePath: String,
      changesPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val baseDir = new Path(basePath)
    val tmpDir = new Path(baseDir.getParent, "." + baseDir.getName + ".compacting")
    val asideDir = new Path(baseDir.getParent, "." + baseDir.getName + ".replaced")
    val fs = baseDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(baseDir) && fs.exists(asideDir))
      require(fs.rename(asideDir, baseDir), s"could not restore $asideDir")
    val changesDir = new Path(changesPath)
    // no changelog (or only markers like _SUCCESS) ⇒ nothing to fold:
    // return with the base untouched instead of failing schema
    // inference on a missing path
    val hasChanges = fs.exists(changesDir) && fs.listStatus(changesDir)
      .exists { f =>
        val n = f.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    if (!hasChanges) return
    applyChangesOf(spark.read.parquet(basePath), spark.read.parquet(changesPath))
      .write.mode("overwrite").parquet(tmpDir.toString)
    fs.delete(asideDir, true)
    require(fs.rename(baseDir, asideDir), s"could not move $baseDir aside")
    require(fs.rename(tmpDir, baseDir), s"could not move $tmpDir into place")
    fs.delete(asideDir, true)
    fs.delete(new Path(changesPath), true) // tombstones now physical
    graft.Tables.invalidate(basePath)
  }

  /** [[applyChangesOf]] as a driver-checked query, over a
    * deterministic changelog both engines derive from the corpus:
    * `doc_id % 10 == 4` tombstoned, `% 10 == 6` revised twice (seq 1
    * superseded by seq 2 — the newest-wins rule is load-bearing, not
    * decorative), and `% 10 == 8` re-inserted under a fresh key
    * (insert = upsert of an unseen doc_id). Digest + byte-length
    * output so the hash check sees every byte of the merged text
    * without shipping it twice. */
  def corpusUpsert(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d).select("doc_id", "source", "text")
    val nul = lit(null).cast("string")
    val changes =
      docs.filter(col("doc_id") % 10 === 4)
        .select(col("doc_id"), lit(1L).as("seq"), lit("delete").as("op"),
          nul.as("source"), nul.as("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 6)
        .select(col("doc_id"), lit(1L).as("seq"), lit("upsert").as("op"),
          col("source"), concat(col("text"), lit(" v2a")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 6)
        .select(col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
          col("source"), concat(col("text"), lit(" v2")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 8)
        .select((col("doc_id") + 1000000L).as("doc_id"), lit(1L).as("seq"),
          lit("upsert").as("op"), col("source"),
          concat(lit("fresh "), col("text")).as("text")))
    applyChangesOf(docs, changes)
      .select(col("doc_id"), col("source"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        md5(col("text").cast("binary")).as("digest"))
      .orderBy("doc_id")
  }

  // ---------- cluster-aware split ----------

  /** Leakage-PROOF train/val split — the constructive fix for what
    * [[splitLeakage]] audits: hashing DOC ids across the split
    * boundary strands near-duplicate pairs on opposite sides (the
    * audit measures exactly those), so the split decision here hashes
    * the near-dup CLUSTER id instead. Every member of a cluster lands
    * in the same split by construction, making cross-split near-dup
    * leakage structurally ZERO (DedupSpec asserts the audit of this
    * split returns empty on the same corpus where the doc-hash split
    * provably leaks) — the C4/Dolma lesson "split by cluster, not by
    * document" as an operator.
    *
    * Same DetMix 90/10 rule as [[splitLeakage]], applied to
    * cluster_id: singletons (cluster_id = own doc_id) hash exactly as
    * before, so the mixture cost of cluster-awareness is only the
    * near-dup sliver moving together. Scale shape: clusters from the
    * [[minhashLshRow]] one-pass kernel + CC rounds (the dedup_clusters
    * machinery, edge-sliver shuffles); the split itself is a stateless
    * projection over the label frame. */
  def splitByCluster(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val pairs = minhashLshRowOf(docs).select("doc_a", "doc_b")
    clusterLabels(docs.select("doc_id"), pairs)
      .select(col("doc_id"), col("cluster_id"),
        when(graft.functions.DetMix.lehmerMix(col("cluster_id")) < lit(TrainCut),
          lit("train")).otherwise(lit("val")).as("split"))
      .orderBy("doc_id")
  }

  // ---------- snapshot diff ----------

  /** Corpus SNAPSHOT DIFF — the dataset-versioning audit every managed
    * training corpus needs between releases: which documents were
    * added, removed, or modified, and how much text mass moved, per
    * source. (The reference has no versioning; this is the curation-ops
    * sibling of [[dedupIncremental]] — that one triages arrivals
    * against history, this one reconciles two complete snapshots.)
    *
    * Both snapshots derive deterministically from the corpus so the
    * oracle can rebuild them: v1 drops `doc_id % 17 == 3`, v2 drops
    * `doc_id % 17 == 11` and revises the text of `doc_id % 17 == 5` —
    * giving all four statuses non-empty slices at every SF.
    *
    * Scale shape: each side is reduced AT THE SCAN to
    * (doc_id, source, digest, byte length) — the full-outer join that
    * classifies rows shuffles a ~40-byte tuple per document, never the
    * text (the [[exactHashSurvivors]] digest-on-the-shuffle move; md5
    * for oracle parity, xxhash64 in production). The join hashes on
    * doc_id, the key corpus snapshots are naturally bucketed by
    * ([[graft.Catalog.createBucketed]]) — stored that way the diff
    * plans with ZERO exchanges; the report aggregation downstream is
    * (source × status)-sized, i.e. model state. */
  /** The two deterministic release derivations behind [[snapshotDiffOf]]
    * and [[snapshotTimeTravel]] — split out so the diff can also run
    * over two snapshots READ BACK from the manifest store. */
  private[graft] def snapshotV1(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("text"))
      .filter(col("doc_id") % 17 =!= 3)
  private[graft] def snapshotV2(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("text"))
      .filter(col("doc_id") % 17 =!= 11)
      .withColumn("text",
        when(col("doc_id") % 17 === 5, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))

  def snapshotDiffOf(docs: DataFrame): DataFrame =
    diffSnapshots(snapshotV1(docs), snapshotV2(docs))

  /** Classify + aggregate two (doc_id, source, text) snapshot frames —
    * the join/report half of [[snapshotDiffOf]]'s scaladoc above. */
  private[graft] def diffSnapshots(v1: DataFrame, v2: DataFrame): DataFrame = {
    def slim(v: DataFrame, tag: String): DataFrame = v.select(
      col("doc_id"), col("source").as(s"source_$tag"),
      md5(col("text").cast("binary")).as(s"digest_$tag"),
      octet_length(col("text")).cast("long").as(s"len_$tag"))
    slim(v1, "a").join(slim(v2, "b"), Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("source_a"), col("source_b")).as("source"),
        when(col("digest_a").isNull, lit("added"))
          .when(col("digest_b").isNull, lit("removed"))
          .when(col("digest_a") =!= col("digest_b"), lit("modified"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("len_a"), lit(0L)).as("len_a"),
        coalesce(col("len_b"), lit(0L)).as("len_b"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len_a")).as("chars_before"),
        sum(col("len_b")).as("chars_after"))
      .orderBy("source", "status")
  }

  def corpusDiff(spark: SparkSession, d: String): DataFrame =
    snapshotDiffOf(Tables.documents(spark, d))

  /** `corpus_diff` THROUGH THE MANIFEST STORE (VERDICT r9 #5): the two
    * releases are PUBLISHED as store versions and read back with
    * `VERSION AS OF` semantics ([[graft.ingest.SnapshotStore
    * .readVersion]]), then diffed — publish → publish → readVersion →
    * diff as one hash-checked registered query, exercising exactly the
    * time-travel path SnapshotStoreSpec covers structurally. The
    * result is identical to [[corpusDiff]] by construction (snapshots
    * are immutable parquet; text/source round-trip losslessly), so the
    * oracle is the same recompute-the-releases SQL — which means the
    * row turns red if the store ever returns the wrong version, a torn
    * snapshot, or a lossy round-trip. The table dir is a per-call temp
    * under the SHARED materialization root
    * ([[graft.operators.Stage.tempDir]], delete-on-exit) — NOT
    * driver-local /tmp, which executors cannot reach off-local
    * (VERDICT r10 #3 / ADVICE r10); the two publishes are tiny
    * (snapshot = the documents projection at the test SFs; at 100 TB a
    * release publish is the same single parquet write any snapshot
    * costs, and the diff reads 40-byte digest tuples, never text). */
  def snapshotTimeTravel(spark: SparkSession, d: String): DataFrame = {
    import graft.ingest.SnapshotStore
    val docs = Tables.documents(spark, d)
    val dir = Stage.tempDir(spark, "snap-tt")
    val va = SnapshotStore.publish(spark, dir, snapshotV1(docs))
    val vb = SnapshotStore.publish(spark, dir, snapshotV2(docs))
    diffSnapshots(
      SnapshotStore.readVersion(spark, dir, va),
      SnapshotStore.readVersion(spark, dir, vb))
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "corpus_diff" -> corpusDiff,
    "snapshot_time_travel" -> snapshotTimeTravel,
    "dedup_exact_stats" -> exactStats,
    "dedup_exact_survivors" -> exactSurvivors,
    "dedup_exact_hashkey" -> exactHashSurvivors,
    "dedup_ngram" -> ngramJaccard,
    "dedup_winnow" -> winnowPairs,
    "split_leakage" -> splitLeakage,
    "dedup_containment" -> ((s: SparkSession, d: String) => containmentPairs(s, d)),
    "dedup_minhash" -> minhashLsh,
    "dedup_minhash_row" -> minhashLshRow,
    "dedup_simhash" -> simhashPairs,
    "dedup_simhash_verified" -> simhashVerified,
    "decontaminate" -> decontaminate,
    "dedup_clusters" -> dedupClusters,
    "dedup_clusters_star" -> dedupClustersStar,
    "split_by_cluster" -> splitByCluster,
    "corpus_upsert" -> corpusUpsert,
    "dedup_cluster_sizes" -> clusterSizes,
    "dedup_survivor_quality" -> survivorQuality,
    "source_overlap" -> sourceOverlap,
    "source_overlap_kmv" -> sourceOverlapKmv,
    "source_overlap_kmv_verified" -> sourceOverlapKmvVerified,
    "source_novelty_kmv" -> sourceNoveltyKmv,
    "source_novelty_kmv_verified" -> sourceNoveltyKmvVerified,
    "mix_coverage_kmv" -> mixCoverageKmv,
    "mix_coverage_kmv_verified" -> mixCoverageKmvVerified,
    "coverage_curve_kmv" -> coverageCurveKmv,
    "coverage_curve_kmv_verified" -> coverageCurveKmvVerified,
    "span_scrub" -> spanScrub,
    "dedup_incremental" -> dedupIncremental,
    "dedup_corpus" -> ((s: SparkSession, d: String) =>
      dedupCorpus(Tables.documents(s, d)).orderBy("doc_id")))

  /** The CTEs every shingle oracle below opens with: word trigrams per
    * doc (`toks`, `sh`), shingle counts (`sz`), and the inverted-index
    * intersection of every doc pair (`inter`). Defined before its users:
    * object vals initialize in order. */
  private val shingleCtes =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(generate_series(1, len(t) - 2),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      |  FROM toks),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
      |  FROM sh a JOIN sh b USING (shingle)
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** The per-source form of [[shingleCtes]]' first two CTEs. */
  private val sourceShingleCtes =
    """toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT source,
      |         unnest(list_transform(generate_series(1, len(t) - 2),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      |  FROM toks),""".stripMargin

  /** Shared closure fragment: exact >= 0.8 Jaccard pairs over the full
    * documents table, recursive transitive closure, and `lab(doc_id,
    * cluster_id)` = the smallest reachable doc_id (itself when
    * isolated). Extended by the cluster/survivor oracles below. */
  private val closureSql =
    "WITH RECURSIVE " + shingleCtes + """,
      |pairs AS (
      |  SELECT doc_a, doc_b FROM inter
      |  JOIN sz x ON x.doc_id = doc_a
      |  JOIN sz y ON y.doc_id = doc_b
      |  WHERE CAST(ni AS DOUBLE) / (x.n + y.n - ni) >= 0.8),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |lab AS (
      |  SELECT d.doc_id,
      |         LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS cluster_id
      |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      |  GROUP BY d.doc_id)""".stripMargin

  /** Oracle for the shingle-Jaccard queries — mirrors the guard, the
    * trigram construction, the distinct, and the inverted-index
    * intersection exactly. */
  private val jaccardSql =
    "WITH " + shingleCtes + """
      |SELECT doc_a, doc_b,
      |       CAST(ni AS DOUBLE) / (x.n + y.n - ni) AS jaccard
      |FROM inter
      |JOIN sz x ON x.doc_id = doc_a
      |JOIN sz y ON y.doc_id = doc_b
      |WHERE CAST(ni AS DOUBLE) / (x.n + y.n - ni) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle for [[splitLeakage]]: [[jaccardSql]]'s pair pipeline plus the
    * inline DetMix split (the same literal formula the sample_det /
    * corpus_shard oracles use) and the val-first orientation. */
  private val splitLeakageSql =
    "WITH " + shingleCtes + """,
      |pairs AS (
      |  SELECT doc_a, doc_b, CAST(ni AS DOUBLE) / (x.n + y.n - ni) AS jaccard
      |  FROM inter
      |  JOIN sz x ON x.doc_id = doc_a
      |  JOIN sz y ON y.doc_id = doc_b
      |  WHERE CAST(ni AS DOUBLE) / (x.n + y.n - ni) >= 0.8),
      |sp AS (
      |  SELECT doc_id,
      |         CASE WHEN (doc_id % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647
      |                   < 1932735282 THEN 'train' ELSE 'val' END AS split
      |  FROM documents)
      |SELECT CASE WHEN a.split = 'val' THEN doc_a ELSE doc_b END AS doc_val,
      |       CASE WHEN a.split = 'val' THEN doc_b ELSE doc_a END AS doc_train,
      |       jaccard
      |FROM pairs
      |JOIN sp a ON a.doc_id = doc_a
      |JOIN sp b ON b.doc_id = doc_b
      |WHERE a.split <> b.split
      |ORDER BY doc_val, doc_train""".stripMargin

  /** Shared by `corpus_diff` and `snapshot_time_travel` (see the map
    * entries for why sharing is the point, not a shortcut). */
  private val corpusDiffSql =
    """WITH v1 AS (
      |  SELECT doc_id, source, text FROM documents WHERE doc_id % 17 <> 3),
      |v2 AS (
      |  SELECT doc_id, source,
      |         CASE WHEN doc_id % 17 = 5 THEN text || ' rev2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 17 <> 11),
      |a AS (SELECT doc_id, source, md5(text) AS digest, strlen(text) AS len FROM v1),
      |b AS (SELECT doc_id, source, md5(text) AS digest, strlen(text) AS len FROM v2),
      |d AS (
      |  SELECT coalesce(a.source, b.source) AS source,
      |         CASE WHEN a.digest IS NULL THEN 'added'
      |              WHEN b.digest IS NULL THEN 'removed'
      |              WHEN a.digest <> b.digest THEN 'modified'
      |              ELSE 'unchanged' END AS status,
      |         coalesce(a.len, 0) AS len_a, coalesce(b.len, 0) AS len_b
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      |SELECT source, status, COUNT(*) AS n_docs,
      |       CAST(SUM(len_a) AS BIGINT) AS chars_before,
      |       CAST(SUM(len_b) AS BIGINT) AS chars_after
      |FROM d GROUP BY source, status ORDER BY source, status""".stripMargin

  val oracles = Map(
    // the same deterministic changelog, newest-wins via QUALIFY on
    // seq DESC (seqs are unique per key by contract), tombstone anti
    // join, and upsert union
    "corpus_upsert" ->
      """WITH docs AS (SELECT doc_id, source, text FROM documents),
        |ch AS (
        |  SELECT doc_id, 1 AS seq, 'delete' AS op,
        |         CAST(NULL AS VARCHAR) AS source, CAST(NULL AS VARCHAR) AS text
        |  FROM docs WHERE doc_id % 10 = 4
        |  UNION ALL
        |  SELECT doc_id, 1, 'upsert', source, text || ' v2a'
        |  FROM docs WHERE doc_id % 10 = 6
        |  UNION ALL
        |  SELECT doc_id, 2, 'upsert', source, text || ' v2'
        |  FROM docs WHERE doc_id % 10 = 6
        |  UNION ALL
        |  SELECT doc_id + 1000000, 1, 'upsert', source, 'fresh ' || text
        |  FROM docs WHERE doc_id % 10 = 8),
        |latest AS (
        |  SELECT doc_id, op, source, text FROM ch
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) = 1),
        |merged AS (
        |  SELECT d.doc_id, d.source, d.text FROM docs d
        |  WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.doc_id = d.doc_id)
        |  UNION ALL
        |  SELECT doc_id, source, text FROM latest WHERE op = 'upsert')
        |SELECT doc_id, source, strlen(text) AS n_bytes, md5(text) AS digest
        |FROM merged ORDER BY doc_id""".stripMargin,
    // the same deterministic v1/v2 derivation, digest compare, and
    // byte-length mass accounting (strlen = octet_length)
    "corpus_diff" -> corpusDiffSql,
    // identical oracle on purpose: the Spark side routes the SAME two
    // releases through publish → readVersion, so any store defect
    // (wrong version served, torn snapshot, lossy round-trip) surfaces
    // as a hash mismatch against the direct recompute
    "snapshot_time_travel" -> corpusDiffSql,
    "dedup_exact_stats" ->
      """SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_distinct,
        |       COUNT(*) - COUNT(DISTINCT text) AS n_dups
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "dedup_exact_survivors" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    // identical digest on both sides (md5 of the UTF-8 bytes)
    "dedup_exact_hashkey" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    "dedup_ngram" -> jaccardSql,
    // winnowing replayed exactly: same trigram strings, same poly-31
    // rolling hash (text_fingerprint's list_reduce mirror), same
    // 4-gram-window MIN with the same end-clamped frame, same >= 2
    // shared-fingerprint floor
    "dedup_winnow" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |  WHERE len(string_split(text, ' ')) >= $WinnowK),
         |p AS (
         |  SELECT doc_id, t,
         |         unnest(generate_series(1, len(t) - ${WinnowK - 1})) AS pos
         |  FROM toks),
         |g AS (
         |  SELECT doc_id, pos,
         |         t[pos] || ' ' || t[pos+1] || ' ' || t[pos+2] AS gram
         |  FROM p),
         |h AS (
         |  SELECT doc_id, pos,
         |         list_reduce(
         |           list_prepend(CAST(0 AS BIGINT),
         |             list_transform(generate_series(1, length(gram)),
         |                            j -> CAST(ascii(gram[j]) AS BIGINT))),
         |           (acc, x) -> (acc * 31 + x) % 1000000007) AS h
         |  FROM g),
         |sel AS (
         |  SELECT DISTINCT doc_id,
         |         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
         |                      ROWS BETWEEN CURRENT ROW
         |                      AND ${WinnowW - 1} FOLLOWING) AS fp
         |  FROM h),
         |keep AS (
         |  SELECT s.doc_id, s.fp FROM sel s
         |  JOIN (SELECT fp FROM sel GROUP BY fp
         |        HAVING COUNT(*) <= $WinnowMaxDf) d USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowShared
         |ORDER BY doc_a, doc_b""".stripMargin,
    "split_leakage" -> splitLeakageSql,
    // the exhaustive mirror of the incremental batch-vs-history LSH
    // probe: every j >= 0.8 pair touching a batch doc, classified with
    // the same history-over-batch precedence and keep-first rule
    "dedup_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |  FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id <> b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da, db FROM inter
        |  JOIN sz x ON x.doc_id = da JOIN sz y ON y.doc_id = db
        |  WHERE CAST(ni AS DOUBLE) / (x.n + y.n - ni) >= 0.8),
        |batch AS (SELECT doc_id FROM documents WHERE source = 'src0'),
        |hist_m AS (
        |  SELECT p.da AS doc_id, MIN(p.db) AS m FROM pairs p
        |  JOIN documents h ON h.doc_id = p.db AND h.source <> 'src0'
        |  WHERE p.da IN (SELECT doc_id FROM batch)
        |  GROUP BY 1),
        |batch_m AS (
        |  SELECT p.da AS doc_id, MIN(p.db) AS m FROM pairs p
        |  JOIN documents b2 ON b2.doc_id = p.db AND b2.source = 'src0'
        |  WHERE p.da IN (SELECT doc_id FROM batch) AND p.db < p.da
        |  GROUP BY 1)
        |SELECT b.doc_id,
        |       CASE WHEN hm.m IS NOT NULL THEN 'dup_of_history'
        |            WHEN bm.m IS NOT NULL THEN 'dup_in_batch'
        |            ELSE 'unique' END AS status,
        |       COALESCE(hm.m, bm.m) AS match_id
        |FROM batch b
        |LEFT JOIN hist_m hm ON hm.doc_id = b.doc_id
        |LEFT JOIN batch_m bm ON bm.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // directional containment mirror of the inverted-index intersection
    "dedup_containment" ->
      ("WITH " + shingleCtes + """
        |SELECT doc_a, doc_b,
        |       CAST(ni AS DOUBLE) / least(x.n, y.n) AS containment
        |FROM inter
        |JOIN sz x ON x.doc_id = doc_a
        |JOIN sz y ON y.doc_id = doc_b
        |WHERE CAST(ni AS DOUBLE) / least(x.n, y.n) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin),
    // string-shingle mirror of the hashed-shingle semi join
    "decontaminate" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, source,
        |         unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
        |                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |                     || ' ' || string_split(text, ' ')[i+2])) AS shingle
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
        |tr AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0')
        |SELECT doc_id, COUNT(*) AS n_shared
        |FROM tr JOIN ev USING (shingle)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "dedup_minhash" -> jaccardSql,
    "dedup_minhash_row" -> jaccardSql,
    "dedup_simhash_verified" -> jaccardSql,
    // transitive closure of the exact >= 0.8 pair set; every doc gets
    // the smallest doc_id it can reach (itself when isolated). Both
    // component algorithms (label propagation and star contraction)
    // check against the IDENTICAL closure text, and the quality-survivor
    // query extends the same fragment — one definition, no drift.
    "dedup_clusters" -> s"""$closureSql
        |SELECT doc_id, cluster_id FROM lab ORDER BY doc_id""".stripMargin,
    // the closure labels + the DetMix 90/10 rule applied to cluster_id
    // (the same inlined Lehmer formula as the sample_det oracle)
    "split_by_cluster" -> s"""$closureSql
        |SELECT doc_id, cluster_id,
        |       CASE WHEN ((cluster_id % 2147483647) * 48271 % 2147483647)
        |                 * 48271 % 2147483647 < 1932735282
        |            THEN 'train' ELSE 'val' END AS split
        |FROM lab ORDER BY doc_id""".stripMargin,
    "dedup_clusters_star" -> s"""$closureSql
        |SELECT doc_id, cluster_id FROM lab ORDER BY doc_id""".stripMargin,
    // histogram over the same closure: cluster size -> cluster count
    "dedup_cluster_sizes" -> s"""$closureSql,
        |s AS (SELECT cluster_id, COUNT(*) AS sz FROM lab GROUP BY cluster_id)
        |SELECT sz, COUNT(*) AS n_clusters FROM s GROUP BY sz ORDER BY sz""".stripMargin,
    // per cluster: longest member (then smallest id) + cluster size
    "dedup_survivor_quality" -> s"""$closureSql,
        |tok AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |ranked AS (
        |  SELECT cluster_id, l.doc_id, n_tokens,
        |         ROW_NUMBER() OVER (PARTITION BY cluster_id
        |                            ORDER BY n_tokens DESC, l.doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs
        |  FROM lab l JOIN tok USING (doc_id))
        |SELECT cluster_id, doc_id AS survivor_id, n_tokens AS survivor_tokens,
        |       CAST(n_docs AS BIGINT) AS n_docs
        |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    // per-source distinct shingle vocabularies, pairwise intersection via
    // the shingle equi-join, Jaccard from the sizes (string shingles
    // here vs 64-bit hashes in Spark — identical modulo the documented
    // 2^-64 xxhash collision caveat)
    "source_overlap" ->
      ("WITH " + sourceShingleCtes + """
        |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         CAST(count(*) AS BIGINT) AS n_shared
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_shared,
        |       CAST(n_shared AS DOUBLE) / (x.n + y.n - n_shared) AS jaccard
        |FROM inter
        |JOIN sz x ON x.source = source_a
        |JOIN sz y ON y.source = source_b
        |ORDER BY source_a, source_b""".stripMargin),
    // the KMV gate: exact values recomputed from the shingle strings
    // (2^-64 hash-collision caveat as everywhere in the family); the
    // booleans are the gate — an estimator/merge regression flips one
    // Spark-side and hash-fails the row
    "source_overlap_kmv_verified" ->
      ("WITH " + sourceShingleCtes + """
        |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         CAST(count(*) AS BIGINT) AS exact_shared
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.source < b.source
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT x.source AS source_a, y.source AS source_b,
        |         x.n AS exact_a, y.n AS exact_b
        |  FROM sz x JOIN sz y ON x.source < y.source)
        |SELECT source_a, source_b, exact_a, exact_b,
        |       COALESCE(exact_shared, CAST(0 AS BIGINT)) AS exact_shared,
        |       true AS sizes_within_bound,
        |       true AS shared_within_bound
        |FROM grid LEFT JOIN inter USING (source_a, source_b)
        |ORDER BY source_a, source_b""".stripMargin),
    // the novelty gate: same program, ORDERED pairs, difference/union
    // recomputed exactly from the shingle strings
    "source_novelty_kmv_verified" ->
      ("WITH " + sourceShingleCtes + """
        |sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         CAST(count(*) AS BIGINT) AS exact_shared
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.source <> b.source
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT x.source AS source_a, y.source AS source_b,
        |         x.n AS exact_a, y.n AS exact_b
        |  FROM sz x JOIN sz y ON x.source <> y.source)
        |SELECT source_a, source_b, exact_a, exact_b,
        |       exact_a - COALESCE(exact_shared, CAST(0 AS BIGINT))
        |         AS exact_novel_a,
        |       exact_a + exact_b - COALESCE(exact_shared, CAST(0 AS BIGINT))
        |         AS exact_union,
        |       true AS novel_within_bound,
        |       true AS union_within_bound
        |FROM grid LEFT JOIN inter USING (source_a, source_b)
        |ORDER BY source_a, source_b""".stripMargin),
    // the mix-coverage gate: the SAME first-half-of-sorted-sources mix
    // policy, exact candidate-vs-mix-union set algebra from the
    // shingle strings. The source axis is the SHINGLE-BEARING sources
    // (ADVICE r16: the estimator's summaries only ever see those, so
    // the oracle must halve the same axis — an all-short-doc source
    // must not shift the mix), sorted by DuckDB's binary collation =
    // the engine's. Mix membership is a FLAG, never a sentinel
    // relabel (ADVICE r15: a source named '__mix' must stay a
    // candidate), and an empty mix (< 2 sources) yields ZERO rows —
    // mirroring the engine's empty-frame return on degenerate corpora.
    "mix_coverage_kmv_verified" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh0 AS (
        |  SELECT DISTINCT source,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |  FROM toks),
        |srcs AS (
        |  SELECT source, ROW_NUMBER() OVER (ORDER BY source) <=
        |           COUNT(*) OVER () // 2 AS in_mix
        |  FROM (SELECT DISTINCT source FROM sh0)),
        |sh AS (
        |  SELECT sh0.source, s.in_mix, sh0.shingle
        |  FROM sh0 JOIN srcs s ON sh0.source = s.source),
        |mixsh AS (SELECT DISTINCT shingle FROM sh WHERE in_mix),
        |mixn AS (SELECT count(*) AS m FROM mixsh),
        |hasmix AS (SELECT count(*) AS nm FROM srcs WHERE in_mix),
        |cand AS (SELECT source, shingle FROM sh WHERE NOT in_mix),
        |sz AS (SELECT source, count(*) AS exact_distinct FROM cand GROUP BY source),
        |inter AS (
        |  SELECT c.source, CAST(count(*) AS BIGINT) AS exact_shared
        |  FROM cand c
        |  WHERE EXISTS (SELECT 1 FROM mixsh m WHERE m.shingle = c.shingle)
        |  GROUP BY c.source)
        |SELECT sz.source, exact_distinct, m AS exact_mix,
        |       exact_distinct - COALESCE(exact_shared, CAST(0 AS BIGINT))
        |         AS exact_novel,
        |       exact_distinct + m
        |         - COALESCE(exact_shared, CAST(0 AS BIGINT)) AS exact_union,
        |       true AS novel_within_bound,
        |       true AS union_within_bound
        |FROM sz CROSS JOIN mixn CROSS JOIN hasmix
        |LEFT JOIN inter USING (source)
        |WHERE nm > 0
        |ORDER BY source""".stripMargin,
    // the coverage-curve gate: the min-rank program — exact_union(k)
    // = cumulative count of shingles whose MINIMUM source rank is ≤ k
    // over the lexicographic source axis (string shingles vs the
    // engine's 64-bit hashes: equal barring the family's 2^-64
    // collision caveat)
    "coverage_curve_kmv_verified" ->
      ("WITH " + sourceShingleCtes + """
        |srcs AS (
        |  SELECT source,
        |         CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) AS rnk
        |  FROM (SELECT DISTINCT source FROM sh)),
        |m AS (SELECT shingle, MIN(rnk) AS mr
        |      FROM sh JOIN srcs USING (source) GROUP BY shingle),
        |cnt AS (SELECT mr, CAST(count(*) AS BIGINT) AS c FROM m GROUP BY mr)
        |SELECT s.rnk AS k, s.source,
        |       CAST(SUM(COALESCE(c, 0)) OVER (ORDER BY s.rnk) AS BIGINT)
        |         AS exact_union,
        |       COALESCE(c, CAST(0 AS BIGINT)) AS exact_marginal,
        |       true AS union_within_bound,
        |       true AS marginal_within_bound
        |FROM srcs s LEFT JOIN cnt ON cnt.mr = s.rnk
        |ORDER BY k""".stripMargin),
    // full composition: exact survivors → near-dup closure over them →
    // keep docs that are their own component minimum
    // string-gram mirror of the hashed-gram scrub (equal barring 64-bit
    // hash collisions, which the scaladoc accounts for)
    "span_scrub" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |pos AS (SELECT doc_id, ts[p] AS tok, p FROM toks,
        |        unnest(generate_series(1, len(ts))) t(p)),
        |grams AS (SELECT doc_id, i, array_to_string(ts[i:i+4], ' ') AS g
        |          FROM toks, unnest(generate_series(1, greatest(len(ts)-4, 0))) t(i)),
        |bad AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |covered AS (SELECT DISTINCT grams.doc_id, i+off AS p
        |            FROM grams JOIN bad USING (g),
        |                 unnest(generate_series(0, 4)) o(off)),
        |kept AS (SELECT pos.doc_id, pos.p, pos.tok FROM pos
        |         LEFT JOIN covered ON pos.doc_id = covered.doc_id AND pos.p = covered.p
        |         WHERE covered.p IS NULL),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |               string_agg(tok, ' ' ORDER BY p) AS scrubbed_text
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(string_split(d.text, ' ')) - coalesce(a.n_kept, 0) AS BIGINT) AS n_scrubbed,
        |       coalesce(a.scrubbed_text, '') AS scrubbed_text
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dedup_corpus" ->
      """WITH RECURSIVE ex AS (
        |  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM ex
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |  FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sz x ON x.doc_id = doc_a
        |  JOIN sz y ON y.doc_id = doc_b
        |  WHERE CAST(ni AS DOUBLE) / (x.n + y.n - ni) >= 0.8),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (
        |  SELECT e.doc_id,
        |         LEAST(e.doc_id, COALESCE(MIN(r.b), e.doc_id)) AS cluster_id
        |  FROM ex e LEFT JOIN reach r ON r.a = e.doc_id
        |  GROUP BY e.doc_id)
        |SELECT e.doc_id, e.text
        |FROM ex e JOIN labels l ON e.doc_id = l.doc_id
        |WHERE l.doc_id = l.cluster_id
        |ORDER BY e.doc_id""".stripMargin)
}
