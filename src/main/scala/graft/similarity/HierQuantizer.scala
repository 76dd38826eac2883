package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{DetMix, VectorFunctions}
import graft.operators.Materialize

/** Two-level coarse quantizer — the bounded-model replacement for the
  * flat `trainCentroids`-everywhere IVF path (VERDICT r9 #1).
  *
  * The flat quantizer breaks at 100× in two coupled ways once `nlist`
  * is data-derived (`nlistForCorpus` makes it ∝ corpus): every Lloyd
  * round COLLECTS all nlist centroids to the driver and re-broadcasts
  * them (driver memory ∝ corpus — hundreds of GB at 10¹¹ vectors),
  * and assignment scores every vector against every broadcast
  * centroid (O(n·nlist) = O(n²/occupancy) cosine work). This is the
  * standard fix, FAISS's own (IMI / two-level coarse quantization;
  * also the shape of its HNSW-coarse quantizer): split the cell space
  * into `k1 ≈ √nlist` SUPER-cells, each holding `k2 = ⌈nlist/k1⌉`
  * sub-cells. Then:
  *
  *  - the only model compiled into per-row assignment is the k1
  *    super centroids — O(√nlist) = sublinear in the corpus forever;
  *  - the k1·k2 ≈ nlist sub-centroids are a frame keyed by
  *    super-cell, met through an equi-join on `sup`
  *    ([[assignCells]], [[queryCells]]);
  *  - per-vector assignment scores k1 supers + s1·k2 subs =
  *    O(√nlist), not O(nlist).
  *
  * Training is NOT sublinear in driver memory: the sub level trains
  * through the grouped [[Lloyd]] trainer (one group per super-cell),
  * which hands the ≈ nlist sub-cells to the driver between rounds —
  * the same model size the flat quantizer collects every round.
  *
  * Training follows FAISS's train-on-sample discipline: both levels
  * train on bounded DETERMINISTIC samples (the repo's one sampling
  * hash, [[DetMix.lehmerMix]] — seedless and partition-independent,
  * the `probeFrame` technique), with the super level on
  * O(64·k1) rows and the sub level on min(16·nlist, [[SubTrainCap]])
  * rows — the hard cap (VERDICT r10 #5) keeps total Lloyd FLOPs
  * Θ(cap·√nlist) instead of Θ(n·√nlist) once nlist ∝ corpus. At every
  * driver scale the sample floors swallow the whole corpus
  * (buckets = 1), so the training data is the full corpus there —
  * sampling only engages where it is needed. All reused intermediates
  * are durably materialized ([[Materialize]]), not localCheckpoint'd.
  *
  * Determinism end to end: Lehmer-mix sampling, id-seeded Lloyd at
  * both levels, min-struct argmax tie-breaks, and the repo's
  * never-sum-doubles decimal means — identical for any partitioning
  * or core count, like `trainCentroids` before it.
  */
object HierQuantizer {

  /** `supers`: (sup, sv) — the broadcastable O(√nlist) top level.
    * `subs`: (sup, scid, cv) — ≈nlist rows, joined on `sup`. Cell id =
    * `sup * k2 + scid`. */
  final case class Model(supers: DataFrame, subs: DataFrame, k1: Int, k2: Int) {
    def cellId(sup: org.apache.spark.sql.Column,
        scid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sup * lit(k2.toLong) + scid
  }

  /** Smallest s with s² ≥ k (k ≥ 1). */
  private[graft] def ceilIsqrt(k: Int): Int = {
    val s = Similarity.isqrt(k.toLong).toInt
    if (s.toLong * s >= k) s else s + 1
  }

  /** Per-centroid training-sample budgets. Supers get the classic
    * plenty (64 points/centroid); subs get 16 — the codebook only
    * partitions space ahead of exact verification in every caller, so
    * marginal Lloyd quality buys nothing downstream (same measured
    * argument as the PQ iters=1 trade, SCALE.md §ANN). The sub level
    * additionally HARD-CAPS total training points at [[SubTrainCap]]
    * (VERDICT r10 #5): under the dedup geometry nlist = n/64 makes the
    * uncapped 16·nlist target n/4 — never collected, but Θ(sample·k2)
    * distributed Lloyd FLOPs grow superlinearly at extreme n. FAISS's
    * own train-on-sample discipline caps total points regardless of k;
    * 2²⁰ rows ≥ the 16/cell target up to nlist = 65 536 (n ≈ 4.2 M
    * dedup-side), past which per-cell training data thins gracefully —
    * acceptable because the codebook only PARTITIONS space ahead of
    * exact verification. */
  private val SupPerCell = 64L
  private val SubPerCell = 16L
  private[graft] val SubTrainCap = 1L << 20
  private val SampleFloor = 1024L

  private def sampled(all: DataFrame, n: Long, target: Long): DataFrame = {
    val buckets = math.max(1L, n / math.max(SampleFloor, target))
    val parts = math.max(8L, math.min(n, target) / 65536L + 1L).toInt
    if (buckets == 1L) Materialize(all.repartition(parts))
    else Materialize(
      all.filter(DetMix.lehmerMix(col("vec_id")) % buckets === 0)
        .repartition(parts))
  }

  /** Train the two-level model. `all` must carry (vec_id, v); `n` is
    * its count (callers already have it — no second scan). */
  def train(spark: SparkSession, all: DataFrame, n: Long, nlist: Int,
      iters: Int = 2): Model = {
    val k1 = math.max(1, ceilIsqrt(nlist))
    val k2 = math.max(1, (nlist + k1 - 1) / k1)
    val base = all.select(col("vec_id"), col("v"))

    // ---- level 1: k1 super-centroids on an O(64·k1) sample ----
    val supSample = sampled(base, n, SupPerCell * k1)
    val supers = Similarity.trainCentroids(spark, supSample, k1, iters)
      .select(col("cid").as("sup"), col("cv").as("sv"))

    // ---- level 2: k2 sub-centroids per super-cell ----
    val subSample = sampled(base, n, math.min(SubTrainCap, SubPerCell * nlist))
    // single-super assignment of the training sample: per-row argmax
    // against the plan-time super model ([[graft.functions
    // .NearestCellsExpr]], r17) — the supers are O(√nlist)
    // driver-local by construction, so this is a pure function of
    // (v, supers) with the min-struct's tie order
    val supAssigned = subSample.select(
      Similarity.nearestCellsCol(col("v"), supCentroids(supers), 1)
        .getItem(0).as("g"),
      col("vec_id").as("id"), col("v"))
    // one Lloyd group per super-cell, seeded with its first k2 sample
    // vectors by vec_id (scid = rank)
    val s = spark
    import s.implicits._
    val trained = Lloyd.train(supAssigned, k2, iters, Lloyd.SubCells)
      .toDF("sup", "scid", "cv")
    Model(supers, patchDeadSupers(supers, trained), k1, k2)
  }

  /** ADVICE r10: a super-cell that attracted no training-sample
    * vectors ends with ZERO sub-centroids (no seed rows, and Lloyd
    * only updates cells that won a vector — possible because the two
    * levels train on DIFFERENT Lehmer samples), and [[assignCells]]'
    * inner join on `sup` would then silently DROP every corpus vector
    * whose probed supers are all such dead cells — a vector missing
    * from the ANN index / dedup candidate set with no error. Seed
    * each dead super with its own centroid as a single sub-cell
    * (scid 0): every probed super now yields ≥ 1 cell, so every input
    * row is assigned. Cell ids stay unique — a dead super has no
    * other scid. */
  private[graft] def patchDeadSupers(supers: DataFrame,
      trained: DataFrame): DataFrame = {
    val dead = supers
      .join(trained.select("sup").distinct(), Seq("sup"), "left_anti")
      .select(col("sup"), lit(0L).as("scid"), col("sv").as("cv"))
    trained.unionByName(dead)
  }

  /** The supers frame relabeled to the (cid, cv) shape
    * [[Similarity.centroidArrays]] collects. */
  private def supCentroids(supers: DataFrame): DataFrame =
    supers.select(col("sup").as("cid"), col("sv").as("cv"))

  /** Per-row cell assignment: the top `soft` cells among the `s1`
    * nearest super-cells' children. Two bounded stages — the top-s1
    * supers per row as a PLAN-TIME expression over the O(√nlist)
    * driver-local super model ([[graft.functions.NearestCellsExpr]],
    * r17 — was a broadcast-join ×k1 + corpus-wide hash-agg/window
    * Exchange; ordering and ties unchanged: sim desc, sup asc), then
    * an equi-join on `sup` meets only s1·k2 sub-centroids per row —
    * O(√nlist) per vector where the flat quantizer paid O(nlist).
    * Output: `df`'s columns + `out` (cell id), ≤ `soft` rows per input
    * row. Deterministic ties: (sim desc, sup, scid). */
  def assignCells(model: Model, df: DataFrame, soft: Int, s1: Int,
      out: String): DataFrame = {
    val cols = df.columns
    val supTop = df.withColumn("sup",
      explode(Similarity.nearestCellsCol(col("v"), supCentroids(model.supers), s1)))
    val cellScored = supTop.join(model.subs, "sup")
      .withColumn("c_sim", VectorFunctions.cosineSim(col("v"), col("cv")))
    if (soft == 1)
      cellScored.groupBy(col("vec_id"))
        .agg(min(struct((-col("c_sim")).as("ns"), col("sup"), col("scid"),
          struct(cols.map(col): _*).as("row"))).as("w"))
        .select(cols.map(c => col(s"w.row.$c")) :+
          (col("w.sup") * lit(model.k2.toLong) + col("w.scid")).as(out): _*)
    else {
      // bounded-heap top-`soft` per vector (r17): the window form
      // re-exchanged and per-key-sorted the corpus × (s1·k2) scored
      // frame — including the embedding and sub-centroid vectors it
      // carried — just to keep `soft` rows; TopKPerKey cuts each map
      // partition to ≤ soft rows per vec_id before the exchange (the
      // centroid vector dropped up front), identical (sim desc, sup,
      // scid) tie order.
      graft.plans.TopKPerKey(cellScored.drop("cv"),
          Seq("vec_id"),
          Seq(col("c_sim").desc, col("sup").asc, col("scid").asc), k = soft)
        .select(cols.map(col) :+ model.cellId(col("sup"), col("scid")).as(out): _*)
    }
  }

  /** Probe-cell expansion for a SMALL query frame: the queries
    * broadcast against the distributed sub-centroid frame (all ≈nlist
    * cells scored — correct nprobe semantics over the whole cell
    * space), window top-nprobe per query. The model is never
    * collected; per-query work is O(nlist) but the query side is O(1)
    * rows by contract. */
  def queryCells(model: Model, q: DataFrame, nprobe: Int,
      out: String): DataFrame = {
    val cols = q.columns
    // bounded-heap top-nprobe per query (r17): queries × ≈nlist scored
    // cell rows funneled through ≤ |q| window partitions was a full
    // sort on the handful of query keys — the heap cut keeps ≤ nprobe
    // rows per query per map partition instead (assignCells' note).
    graft.plans.TopKPerKey(
        broadcast(q).join(model.subs)
          .withColumn("c_sim", VectorFunctions.cosineSim(col("v"), col("cv")))
          .drop("cv"),
        Seq("vec_id"),
        Seq(col("c_sim").desc, col("sup").asc, col("scid").asc), k = nprobe)
      .select(cols.map(col) :+ model.cellId(col("sup"), col("scid")).as(out): _*)
  }
}
