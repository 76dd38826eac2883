package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.{PqAllCodesExpr, VectorFunctions}

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search"): split each (unit-normalized) vector into
  * `M` subspaces, k-means each subspace to `K` codewords, store each
  * vector as `M` small codes — 8 codes instead of 64 doubles is a 64×
  * shuffle/memory reduction for the candidate set. Search is ADC
  * (asymmetric distance): per query, one `M × K` lookup table of
  * subspace distances, then each candidate's distance is a sum of `M`
  * table entries — no float vectors touched at scan time.
  *
  * On unit vectors, squared L2 is `2 − 2·cosine`, so ADC ranking
  * approximates the cosine ranking the exact operators use.
  *
  * The codebook trains through the one grouped Lloyd trainer
  * ([[Lloyd]]), one group per subspace `m`: every subspace at once,
  * driver-locally whenever the sub-vector rows fit [[Lloyd.RowCap]].
  * Means are decimal-exact for run-to-run determinism. */
object ProductQuantizer {

  /** (vec_id, u): each vector unit-normalized. The norm is floored at a
    * tiny positive value so an all-zero vector maps to the zero vector
    * instead of NaNs (0/0) that would poison every distance it
    * touches. */
  private def unitVectors(vecs: DataFrame): DataFrame = {
    vecs
      .withColumn("nrm", greatest(lit(1e-300), expr(
        "sqrt(aggregate(transform(v, x -> x * x), CAST(0 AS DOUBLE), (acc, x) -> acc + x))")))
      .select(col("vec_id"), expr("transform(v, x -> x / nrm)").as("u"))
  }

  /** (vec_id, m, sv): the M sub-vector slices of a `(vec_id, u)`
    * frame — the exploded form Lloyd training and the per-query lookup
    * table need. */
  private def subOfU(u: DataFrame, m: Int, subDim: Int): DataFrame =
    u.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${m - 1}), i -> slice(u, i * $subDim + 1, $subDim))"))
      .as(Seq("m", "sv")))

  /** [[unitVectors]] + [[subOfU]] — the one-frame form for callers that
    * only ever need the exploded rows (training). */
  private def subVectors(vecs: DataFrame, m: Int, subDim: Int): DataFrame =
    subOfU(unitVectors(vecs), m, subDim)

  /** Collected `(m, cid, cv)` codebook, per-subspace ids + centroid
    * matrices sorted by cid — the plan-time model the per-row
    * assignment expressions take. Model-sized by construction
    * (M × K × subDim doubles — the same bound the old
    * `broadcast(cents)` hint asserted). */
  private def codebookArrays(cents: DataFrame): (Array[Array[Int]], Array[Array[Array[Double]]]) = {
    val rows = cents
      .select(col("m").cast("int"), col("cid").cast("int"), col("cv"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val byM = rows.groupBy(_._1)
    val mTot = if (rows.isEmpty) 0 else byM.keys.max + 1
    val ids = Array.tabulate(mTot)(m =>
      byM.getOrElse(m, Array.empty[(Int, Int, Array[Double])]).sortBy(_._2).map(_._2))
    val book = Array.tabulate(mTot)(m =>
      byM.getOrElse(m, Array.empty[(Int, Int, Array[Double])]).sortBy(_._2).map(_._3))
    (ids, book)
  }

  /** Train the `M × K` codebook with Lloyd iterations. Returns
    * (m, cid, cv). Deterministic (decimal-exact means, id-seeded). */
  def train(spark: SparkSession, vecs: DataFrame,
      m: Int, subDim: Int, k: Int, iters: Int): DataFrame =
    trainFrom(spark, subVectors(vecs, m, subDim), k, iters)

  /** Same, over an already-built sub-vector frame — lets [[adcTopK]]
    * share one explode across train/encode/LUT. Seeds are the first `k`
    * vectors by vec_id in every subspace (cid = rank, which also holds
    * for non-zero-based or sparse id spaces). */
  private def trainFrom(spark: SparkSession, sub: DataFrame,
      k: Int, iters: Int): DataFrame = {
    val s = spark
    import s.implicits._
    Lloyd.train(sub.select(col("m").as("g"), col("vec_id").as("id"), col("sv").as("v")),
      k, iters, Lloyd.Pq)
      .map { case (m, cid, cv) => (m.toInt, cid.toInt, cv) }.toDF("m", "cid", "cv")
  }

  /** Encode every vector of a `(vec_id, u)` frame as its M codes:
    * (vec_id, codes ARRAY<INT>), one per-row expression pass
    * ([[graft.functions.PqAllCodesExpr]], r17). The old pipeline —
    * explode to M sub-rows, broadcast-join × K, min-struct hash-agg,
    * then a SECOND shuffle on vec_id to `collect_list` the codes back
    * into an array — paid two corpus Exchanges for what is a pure
    * per-row function of (u, codebook); the codes array (subspace
    * order, same (d, cid) winners) is bit-for-bit unchanged. */
  private def encodeU(u: DataFrame, cents: DataFrame, subDim: Int): DataFrame = {
    val (ids, book) = codebookArrays(cents)
    u.select(col("vec_id"), PqAllCodesExpr.column(col("u"), ids, book, subDim).as("codes"))
  }

  /** ADC top-k: query sub-vectors × codebook = the per-query lookup
    * table; candidates join it on (m, code) and sum M entries. */
  def adcTopK(spark: SparkSession, vecs: DataFrame,
      m: Int, subDim: Int, k: Int, iters: Int,
      isQuery: org.apache.spark.sql.Column, topK: Int): DataFrame = {
    // one normalize, materialized ONCE via localCheckpoint: training
    // (an eager collect of the sub-vector rows), encode, and the LUT all
    // read the materialized unit-vector blocks instead of re-running
    // the normalize pipeline (r17: the checkpoint moved from the
    // exploded sub-vector frame to the 1-row-per-vector unit frame —
    // encode is now a per-row expression over `u`, so the explode only
    // exists where Lloyd training and the query LUT need it). Unlike an
    // explicit cache (which would have to outlive this call to benefit
    // the lazy search plan, i.e. leak until the caller's clearCache),
    // checkpoint blocks are released by the ContextCleaner as soon as
    // the returned plan is GC'd.
    // LAZY checkpoint — see adcTopKAmong's note
    val uf = unitVectors(vecs).localCheckpoint(false)
    val cents = trainFrom(spark, subOfU(uf, m, subDim), k, iters)
    val codes = encodeU(uf.join(vecs.filter(!isQuery).select("vec_id"), "vec_id"),
      cents, subDim)
    val lut = lutOf(subOfU(uf.join(vecs.filter(isQuery).select("vec_id"), "vec_id"),
      m, subDim), cents)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    // whole-corpus scan: the LUT joins on (m, cid) alone — every corpus
    // code row matches its query entries — so this keeps its own join
    // shape rather than adcRank's candidate-restricted (query_id, m,
    // cid) join; the decimal-exact entry sum is identical.
    // Top-k through the bounded-heap TopKPerKey (r17): the window form
    // re-exchanged and full-sorted the queries×corpus ADC frame per
    // query; the heap cuts each map partition to ≤ topK rows per query
    // before the exchange, and the residual row_number runs over
    // ≤ queries×topK rows.
    graft.plans.TopKPerKey(
      codes.select(col("vec_id").as("neighbor_id"),
          posexplode(col("codes")).as(Seq("m", "cid")))
        .join(lut, Seq("m", "cid"))
        .groupBy("query_id", "neighbor_id")
        .agg(sum(col("d").cast(DecimalType(20, 14)))
          .cast(DecimalType(38, 14)).cast("double").as("adc_dist")),
      Seq("query_id"), Seq(col("adc_dist").asc, col("neighbor_id").asc), k = topK)
      .withColumn("rank", row_number().over(w)) // ≤ queries×topK rows
      .select("query_id", "neighbor_id", "adc_dist", "rank")
      .orderBy("query_id", "rank")
  }

  /** (vec_id, codes) for every row of a raw `(vec_id, v)` frame against
    * an already-trained codebook — the persisted-index encode
    * ([[graft.similarity.Similarity.ensureServedIndex]]). Map-only
    * since r17: normalize + the per-row codes expression, no explode
    * and no shuffle. */
  def encodeAll(vecs: DataFrame, m: Int, subDim: Int,
      cents: DataFrame): DataFrame =
    encodeU(unitVectors(vecs), cents, subDim)

  /** The per-query ADC lookup table: one (query, subspace, codeword)
    * distance row per codebook entry. */
  private def lutOf(querySub: DataFrame, cents: DataFrame): DataFrame =
    querySub
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(cents), "m")
      // codegen'd native squared-L2 ([[graft.functions.SqEuclidean]]):
      // identical sequential accumulation to the aggregate(zip_with(...))
      // fold it replaced, so every distance is bit-for-bit unchanged —
      // but the loop runs inside whole-stage codegen instead of an
      // interpreted lambda per element
      .withColumn("d", VectorFunctions.sqDist(col("sv"), col("cv")))
      .select(col("query_id"), col("m"), col("cid"), col("d"))

  /** The candidate-restricted ADC ranking tail shared by every PQ
    * search path: candidates join their codes, the per-query LUT is
    * joined on (query_id, m, cid), and the M entries sum decimal-exact
    * (a double sum's merge order follows shuffle fetch order, and a
    * last-ulp difference at the shortlist boundary would make the
    * result run-dependent). ONE implementation on purpose — the
    * served/in-query byte-parity guarantee rests on it. */
  private def adcRank(candidates: DataFrame, codes: DataFrame,
      lut: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    // bounded-heap top-k (r17) — see adcTopK's note; identical ordering
    graft.plans.TopKPerKey(
      candidates
        .join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          posexplode(col("codes")).as(Seq("m", "cid")))
        .join(lut, Seq("query_id", "m", "cid"))
        .groupBy("query_id", "neighbor_id")
        .agg(sum(col("d").cast(DecimalType(20, 14)))
          .cast(DecimalType(38, 14)).cast("double").as("adc_dist")),
      Seq("query_id"), Seq(col("adc_dist").asc, col("neighbor_id").asc), k = topK)
      .withColumn("rank", row_number().over(w)) // ≤ queries×topK rows
      .select("query_id", "neighbor_id", "adc_dist", "rank")
      .orderBy("query_id", "rank")
  }

  /** ADC scan against a PERSISTED codebook + posting codes: no training,
    * no corpus encode — only the query rows are sub-split for the
    * per-query lookup table, then the given `(query_id, neighbor_id)`
    * candidates join their stored codes through the shared [[adcRank]]
    * tail. This is the probe-only inner stage of
    * [[graft.similarity.Similarity.annIvfPqServed]]; the distance math
    * IS [[adcTopKAmong]]'s (same code path), so a served probe returns
    * byte-identical shortlists to the in-query form given the same
    * codebook. */
  def adcTopKServed(
      queries: DataFrame, // (vec_id, v) — query vectors only
      candidates: DataFrame, // (query_id, neighbor_id)
      codes: DataFrame, // (vec_id, codes) — the stored posting table
      cents: DataFrame, // (m, cid, cv) — the stored codebook
      m: Int, subDim: Int, topK: Int): DataFrame =
    adcRank(candidates, codes, lutOf(subVectors(queries, m, subDim), cents), topK)

  /** ADC top-k RESTRICTED to given candidate pairs — the inner scan of
    * an IVF-PQ index (FAISS's IVFPQ shape): the coarse quantizer has
    * already cut the corpus to each query's probed lists, so the code
    * scan starts FROM the `(query_id, neighbor_id)` candidates, joins
    * the per-query lookup table on `(query_id, m, cid)` (more selective
    * than the whole-corpus `(m, cid)` join of [[adcTopK]]), and sums M
    * entries per surviving pair. Cost scales with `candidates × M`, not
    * `corpus × queries` — the composition that makes PQ usable past the
    * point where even a code scan of everything is too much. */
  def adcTopKAmong(spark: SparkSession, vecs: DataFrame,
      candidates: DataFrame, // (query_id, neighbor_id)
      m: Int, subDim: Int, k: Int, iters: Int,
      isQuery: org.apache.spark.sql.Column, topK: Int): DataFrame = {
    // LAZY checkpoint: the training collect right below is the first
    // action through `uf`, so one job materializes the normalize AND
    // reads the training rows off it; every later stage reads the blocks
    val uf = unitVectors(vecs).localCheckpoint(false)
    val cents = trainFrom(spark, subOfU(uf, m, subDim), k, iters)
    val codes = encodeU(uf.join(vecs.filter(!isQuery).select("vec_id"), "vec_id"),
      cents, subDim)
    val lut = lutOf(subOfU(uf.join(vecs.filter(isQuery).select("vec_id"), "vec_id"),
      m, subDim), cents)
    adcRank(candidates, codes, lut, topK)
  }
}
