package graft.similarity

import scala.collection.immutable.TreeMap
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType}
import graft.functions.{NearestCellsExpr, PqNearestCodeExpr, VectorFunctions}
import graft.operators.Materialize

/** The one k-means (Lloyd) trainer behind every quantizer, over
  * GROUPED `(g, id, v)` rows: each group trains its own `k` cells.
  *
  *  - flat coarse quantizer ([[Similarity.trainCentroids]]): one group;
  *  - product quantizer ([[ProductQuantizer]]): one group per subspace
  *    `m`;
  *  - the [[HierQuantizer]] sub level: one group per super-cell `sup`.
  *
  * Everything but the assignment step is shared: the seed (the first
  * `k` rows per group by id, cid = rank in the group), the
  * decimal-exact per-dimension mean, and the round loop, which hands
  * the model over between rounds as driver-held arrays (model-sized:
  * ≈ nlist or M × K cells). Two arms hold the rows:
  *
  *  - [[Local]]: the rows are collected ONCE when they fit [[RowCap]]
  *    (every registered path since the train-on-sample caps) and every
  *    round runs on the driver — no distributed work per round;
  *  - [[Distributed]]: past the cap the rows are materialized once and
  *    each round is one assignment + one decimal aggregate + collect.
  *
  * BIT-IDENTITY between the arms (the registry re-hashes every query):
  * both assign through the same kernels ([[NearestCellsExpr.bestCells]],
  * [[PqNearestCodeExpr.nearestCode]], and for the hier sub level the
  * `cosine_sim` loop under Spark's min-struct order, replicated in
  * [[SubCells]]), and [[decimalMean]] replicates
  * `CAST(x AS DECIMAL(28,12))` (Spark casts a double through its
  * `toString` decimal form, then `setScale(12, HALF_UP)`), the exact
  * decimal SUM (associative, so the summation order is free),
  * `CAST(sum AS DOUBLE)` (`BigDecimal.doubleValue`, correctly rounded)
  * and the final double division by the count. A cell that loses every
  * member drops out of the model. LocalTrainSpec pins both arms against
  * recorded model digests; the registry diff (tools/diff_verify_out.py)
  * pins it end to end.
  */
private[graft] object Lloyd {

  /** Row cap for the one-shot collect: 4× [[Similarity.IvfTrainCap]]
    * (the Lehmer bucket filter overshoots its target by up to 2×, and
    * the PQ rows carry M sub-rows per vector; 2¹⁷ rows of ≤ 64 doubles
    * ≈ 70 MB of driver arrays). Past it the take early-terminates and
    * the distributed arm trains. */
  val RowCap: Int = (Similarity.IvfTrainCap << 2).toInt

  /** One training row: (group, id, vector). */
  type Vec = (Long, Long, Array[Double])

  /** One group's cells: ids ascending, centroids aligned. */
  final case class Cells(ids: Array[Long], cents: Array[Array[Double]])

  /** The model between rounds, by group. */
  type Model = TreeMap[Long, Cells]

  private val forceDistributed = new scala.util.DynamicVariable(false)

  /** Test seam: every training inside `f` takes the distributed arm. */
  private[graft] def distributed[T](f: => T): T = forceDistributed.withValue(true)(f)

  /** Train `k` cells per group over `rows` (columns `g`, `id`, `v`) for
    * `iters` rounds. Returns (g, cid, cv) sorted by (g, cid). A row with
    * a null group, id or vector carries no signal and is dropped. */
  def train(rows: DataFrame, k: Int, iters: Int,
      assign: Assign): Seq[(Long, Long, Seq[Double])] = {
    val frame = rows.select(col("g").cast("long"), col("id").cast("long"), col("v"))
      .na.drop()
    val sample =
      if (forceDistributed.value) None
      else Some(frame.limit(RowCap + 1).collect()).filter(_.length <= RowCap)
    val arm = sample match {
      case Some(rs) => Local(rs.map(vec))
      case None => Distributed(Materialize(frame))
    }
    run(arm, k, iters, assign)
  }

  /** The round loop over either arm. */
  private[graft] def run(arm: Arm, k: Int, iters: Int,
      assign: Assign): Seq[(Long, Long, Seq[Double])] = {
    val seeds: TreeMap[Long, Seq[Vec]] =
      if (k <= 0) TreeMap.empty
      else TreeMap.from(arm.seedRows(k).groupBy(_._1).view
        .mapValues(_.sortBy(_._2).take(k)))
    var model: Model = seeds.map { case (g, rs) =>
      g -> Cells(rs.indices.map(_.toLong).toArray, rs.map(_._3).toArray) }
    var it = 0
    while (it < iters && model.nonEmpty) {
      model = arm.round(model, assign)
      it += 1
    }
    model.toSeq.flatMap { case (g, c) =>
      c.ids.indices.map(j =>
        (g, assign.label(seeds(g), c.ids(j)), c.cents(j).toSeq)) }
  }

  private def vec(r: Row): Vec = (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray)

  private def modelOf(cells: Iterable[(Long, Long, Array[Double])]): Model =
    TreeMap.from(cells.groupBy(_._1).view.mapValues { cs =>
      val s = cs.toSeq.sortBy(_._2)
      Cells(s.map(_._2).toArray, s.map(_._3).toArray)
    })

  // ---------- the arms ----------

  /** Where the training rows live. */
  private[graft] sealed trait Arm {
    /** A superset of each group's first `k` rows by id. */
    def seedRows(k: Int): Seq[Vec]
    /** One round: assign every row, then the decimal-exact means. */
    def round(model: Model, assign: Assign): Model
  }

  /** Rows held on the driver. */
  private[graft] final case class Local(sample: Array[Vec]) extends Arm {
    def seedRows(k: Int): Seq[Vec] = sample.toSeq
    def round(model: Model, assign: Assign): Model = {
      val cellOf = assign.local(model)
      modelOf(sample.groupBy { case (g, _, v) => (g, cellOf(g, v)) }
        .map { case ((g, c), rs) => (g, c, decimalMean(rs.map(_._3))) })
    }
  }

  /** Rows materialized on the cluster; the model still comes back to
    * the driver every round. */
  private[graft] final case class Distributed(rows: DataFrame) extends Arm {
    // bounded per-group heaps: a window would sort a single group (the
    // flat quantizer's whole corpus) in one partition
    def seedRows(k: Int): Seq[Vec] = graft.plans.TopKPerKey(
      rows, Seq("g"), Seq(col("id").asc), k).collect().toSeq.map(vec)
    def round(model: Model, assign: Assign): Model =
      modelOf(meanOf(assign.distributed(model, rows))
        .select(col("g"), col("cid").cast("long"), col("cv")).collect().map(vec))
  }

  /** `CAST(x AS DECIMAL(28,12))` exactly as Spark's Cast evaluates it:
    * double → its decimal string form (`BigDecimal.valueOf`) →
    * `setScale(12, HALF_UP)`. */
  @inline private def dec12(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP)

  /** Per-dimension decimal-exact mean of a cell's vectors, the local
    * form of [[meanOf]]. Ragged inputs keep its semantics: position p
    * averages over the members long enough to have it. */
  private def decimalMean(vs: Array[Array[Double]]): Array[Double] = {
    val dims = vs.iterator.map(_.length).max
    val sums = Array.fill(dims)(java.math.BigDecimal.ZERO)
    val cnts = new Array[Long](dims)
    vs.foreach { v =>
      var i = 0
      while (i < v.length) {
        sums(i) = sums(i).add(dec12(v(i)))
        cnts(i) += 1
        i += 1
      }
    }
    (0 until dims).iterator.filter(cnts(_) > 0)
      .map(i => sums(i).doubleValue() / cnts(i).toDouble).toArray
  }

  /** (g, cid, v) → (g, cid, cv): per-dimension decimal sums and counts,
    * reassembled in dimension order. */
  private def meanOf(assigned: DataFrame): DataFrame =
    assigned.select(col("g"), col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("g", "cid", "pos")
      .agg(sum(col("x").cast(DecimalType(28, 12))).as("sx"), count(lit(1)).as("n"))
      .groupBy("g", "cid")
      .agg(expr("transform(array_sort(collect_list(struct(pos, " +
        "CAST(sx AS DOUBLE) / n))), p -> p.col2)").as("cv"))

  // ---------- assignment: the one per-quantizer step ----------

  /** How a row picks its cell within its group. */
  sealed trait Assign {
    /** Local arm: (g, v) → cid against `model`. */
    def local(model: Model): (Long, Array[Double]) => Long
    /** Distributed arm: (g, id, v) rows → (g, cid, v). */
    def distributed(model: Model, rows: DataFrame): DataFrame
    /** The output label of the cell seeded by `seed(rank)`. */
    def label(seed: Seq[Vec], rank: Long): Long = rank
  }

  private val noArray = Literal(null, ArrayType(DoubleType))

  /** Flat coarse quantizer: one group, [[NearestCellsExpr]]'s order
    * (sim desc, cid asc). A cell is labeled by its seed's id — rank is
    * monotone in it, so every tie-break is unchanged, and the hier cell
    * id `sup·k2 + scid` rides on these labels. */
  object Flat extends Assign {
    private def kernel(model: Model): NearestCellsExpr = {
      val c = model(0L)
      NearestCellsExpr(noArray, c.ids, c.cents, 1)
    }
    def local(model: Model): (Long, Array[Double]) => Long = {
      val k = kernel(model)
      (_, v) => k.bestCells(new GenericArrayData(v)).getLong(0)
    }
    def distributed(model: Model, rows: DataFrame): DataFrame = {
      val c = model(0L)
      rows.select(col("g"),
        NearestCellsExpr.column(col("v"), c.ids, c.cents, 1).getItem(0).as("cid"), col("v"))
    }
    override def label(seed: Seq[Vec], rank: Long): Long = seed(rank.toInt)._2
  }

  /** Product quantizer: group = subspace `m`, [[PqNearestCodeExpr]]'s
    * order (squared L2 asc, cid asc). Every subspace in the rows is
    * seeded, so the codebook covers every `m` a row carries. */
  object Pq extends Assign {
    private def codebook(model: Model): (Array[Array[Int]], Array[Array[Array[Double]]]) = {
      val byM = Array.tabulate(model.lastKey.toInt + 1)(m =>
        model.getOrElse(m.toLong, Cells(Array.empty, Array.empty)))
      (byM.map(_.ids.map(_.toInt)), byM.map(_.cents))
    }
    def local(model: Model): (Long, Array[Double]) => Long = {
      val (ids, book) = codebook(model)
      val k = PqNearestCodeExpr(Literal(0), noArray, ids, book)
      (m, sv) => k.nearestCode(m.toInt, new GenericArrayData(sv)).toLong
    }
    def distributed(model: Model, rows: DataFrame): DataFrame = {
      val (ids, book) = codebook(model)
      rows.select(col("g"),
        PqNearestCodeExpr.column(col("g").cast("int"), col("v"), ids, book).as("cid"),
        col("v"))
    }
  }

  /** Hier sub level: group = super-cell, Spark's
    * `min(struct(-cosine_sim, sup, scid, v))` per vector. Within one
    * vector `sup` is fixed, so the order is (-cos asc, scid asc) with
    * Spark's double ordering — `==` first (±0.0 equal), then
    * `Double.compare` (NaN last). Not [[NearestCellsExpr]]'s order,
    * which ranks a NaN similarity first. */
  object SubCells extends Assign {
    /** `cosine_sim`'s exact sequential loop
      * ([[graft.functions.CosineSimilarity]]). */
    private def cosine(x: Array[Double], y: Array[Double]): Double = {
      val n = math.min(x.length, y.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = x(i); val yi = y(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def local(model: Model): (Long, Array[Double]) => Long = (sup, v) => {
      val c = model(sup)
      var best = 0
      var bestNs = -cosine(v, c.cents(0))
      var j = 1
      while (j < c.ids.length) {
        val ns = -cosine(v, c.cents(j))
        // ids ascend, so an equal similarity keeps the smaller scid
        if (ns != bestNs && java.lang.Double.compare(ns, bestNs) < 0) {
          best = j; bestNs = ns
        }
        j += 1
      }
      c.ids(best)
    }
    def distributed(model: Model, rows: DataFrame): DataFrame = {
      val spark = rows.sparkSession
      import spark.implicits._
      val cells = model.toSeq.flatMap { case (g, c) =>
        c.ids.indices.map(j => (g, c.ids(j), c.cents(j))) }.toDF("g", "cid", "cv")
      rows.join(cells, "g")
        .withColumn("c_sim", VectorFunctions.cosineSim(col("v"), col("cv")))
        .groupBy(col("id"))
        .agg(min(struct((-col("c_sim")).as("ns"), col("g"), col("cid"), col("v"))).as("w"))
        .select(col("w.g").as("g"), col("w.cid").as("cid"), col("w.v").as("v"))
    }
  }
}
