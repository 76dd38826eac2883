package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Per-row top-`k` nearest-centroid assignment against a PLAN-TIME
  * centroid model — the shuffle-free form of the IVF coarse-quantizer
  * assignment (r17 optimization round, guide §2.4 "remove shuffles
  * outright").
  *
  * What it replaces: every flat-quantizer assignment used to be
  * `df.join(broadcast(centroids))` (corpus × nlist row blow-up, each
  * copy carrying the full embedding) followed by either a
  * `groupBy(vec_id).agg(min(struct(-sim, cid, v)))` hash aggregate or a
  * `row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid)`
  * window — BOTH of which hash-shuffle the whole corpus (vectors
  * included) once per assignment, and the Lloyd trainer paid that
  * shuffle again per iteration. The assignment is a pure per-row
  * function of (v, model): this expression evaluates it inside the scan
  * stage — zero Exchange, zero row blow-up, the model rides along as an
  * expression reference exactly like [[LshBucketKeysExpr]]'s planes.
  *
  * Result: the `k` centroid ids ordered by (cosine similarity DESC,
  * cid ASC) — element 0 is the argmax the old min-struct aggregate
  * picked, the full array is the old window's `rank <= k` set in rank
  * order. Tie semantics replicate Spark's double ordering on the
  * negated-sim struct exactly: sims compare with `==` first (so
  * -0.0 == 0.0, as SQLOrderingUtil does) then `java.lang.Double
  * .compare`; equal sims fall to the smaller cid. Cosine accumulation
  * is sequential in index order — the identical loop of
  * [[CosineSimilarity]] — so every similarity is bit-for-bit the value
  * the join-based plan computed, and the selected cells are identical
  * for any partitioning or core count.
  *
  * Codegen: the generated stage calls [[bestCells]] through a reference
  * object (one virtual call per row into this compiled loop), keeping
  * whole-stage codegen intact with a constant-size generated body —
  * the centroid matrix never appears in generated source (the
  * literal-tree lesson at [[LshBucketKeysExpr]]).
  */
case class NearestCellsExpr(
    child: Expression,
    cids: Array[Long],
    cents: Array[Array[Double]],
    k: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> input, got ${other.simpleString}")
  }

  /** candidate (s1, c1) ranks strictly before held (s2, c2)?
    * Ordering: sim DESC (Spark double semantics: `==` equates ±0.0,
    * NaN greatest), then cid ASC. */
  @inline private def better(s1: Double, c1: Long, s2: Double, c2: Long): Boolean = {
    val cmp = if (s1 == s2) 0 else java.lang.Double.compare(s1, s2)
    cmp > 0 || (cmp == 0 && c1 < c2)
  }

  /** The per-row kernel; public so generated code can call it. */
  def bestCells(input: ArrayData): GenericArrayData = {
    val m = cids.length
    val kk = if (k < m) k else m
    val ts = new Array[Double](kk)
    val tc = new Array[Long](kk)
    var filled = 0
    var j = 0
    while (j < m) {
      val c = cents(j)
      val dim = math.min(input.numElements(), c.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < dim) {
        val x = input.getDouble(i); val y = c(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val sim =
        if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      val cid = cids(j)
      var pos = filled
      while (pos > 0 && better(sim, cid, ts(pos - 1), tc(pos - 1))) pos -= 1
      if (pos < kk) {
        var q = if (filled < kk) filled else kk - 1
        while (q > pos) { ts(q) = ts(q - 1); tc(q) = tc(q - 1); q -= 1 }
        ts(pos) = sim; tc(pos) = cid
        if (filled < kk) filled += 1
      }
      j += 1
    }
    new GenericArrayData(if (filled == kk) tc else java.util.Arrays.copyOf(tc, filled))
  }

  override def nullSafeEval(input: Any): Any =
    bestCells(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCells", this, classOf[NearestCellsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.bestCells($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // Array params get reference equality from the case class, which breaks
  // expression canonicalization; compare the model by content.
  override def equals(other: Any): Boolean = other match {
    case o: NearestCellsExpr =>
      child == o.child && k == o.k &&
      java.util.Arrays.equals(cids, o.cids) &&
      java.util.Arrays.deepEquals(
        cents.asInstanceOf[Array[AnyRef]], o.cents.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(k),
      Int.box(java.util.Arrays.hashCode(cids)),
      Int.box(java.util.Arrays.deepHashCode(cents.asInstanceOf[Array[AnyRef]])))
}

object NearestCellsExpr {
  /** The `k` nearest centroid ids of `v`, as a Column. */
  def column(v: Column, cids: Array[Long], cents: Array[Array[Double]], k: Int): Column =
    GraftPlanBridge.column(NearestCellsExpr(GraftPlanBridge.expr(v), cids, cents, k))
}

/** Per-row product-quantizer codeword assignment for ONE subspace row
  * `(m, sv)` against a plan-time `M × K` codebook — the shuffle-free
  * form of [[graft.similarity.ProductQuantizer]]'s `assign` (same
  * rationale as [[NearestCellsExpr]]: the old plan blew each sub-vector
  * row up × K through a broadcast join and then hash-shuffled the whole
  * exploded corpus through a min-struct aggregate; the winner is a pure
  * per-row function of the codebook).
  *
  * Result: the winning codeword id, ordering (squared L2 ASC, cid ASC)
  * with the same `==`-then-`Double.compare` tie semantics as the
  * min-struct on (d, cid) it replaces. Distance accumulation is
  * sequential in index order — [[SqEuclidean]]'s exact loop — so every
  * distance, and hence every code, is bit-for-bit unchanged.
  *
  * `codebook(m)` holds subspace m's centroid matrix, `codeIds(m)` the
  * matching codeword ids (Lloyd drops empty cells, so ids need not be
  * contiguous). */
/** All M product-quantizer codes of one (unit-normalized) vector in a
  * single per-row pass — the shuffle-free form of
  * [[graft.similarity.ProductQuantizer]]'s encode pipeline. The old
  * plan exploded each vector into M sub-vector rows, blew them up × K
  * through a broadcast join, hash-shuffled the min-struct winners, and
  * then shuffled AGAIN on vec_id to reassemble the codes array
  * (`collect_list` + sort). The codes are a pure per-row function of
  * (u, codebook): subspace m's code is the (squared L2 ASC, cid ASC)
  * winner over `codebook(m)` against `u[m·subDim … m·subDim+subDim)`,
  * the identical slice and the identical sequential accumulation the
  * exploded plan computed — so the codes array is bit-for-bit the old
  * one, with zero Exchange.
  *
  * A subspace with no surviving codewords is omitted, matching the old
  * `collect_list` (which simply had no row for it); Lloyd retains ≥ 1
  * codeword for every subspace that saw input, so this is defensive. */
case class PqAllCodesExpr(
    child: Expression,
    codeIds: Array[Array[Int]],
    codebook: Array[Array[Array[Double]]],
    subDim: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> input, got ${other.simpleString}")
  }

  /** The per-row kernel; public so generated code can call it. */
  def allCodes(input: ArrayData): GenericArrayData = {
    val mTot = codebook.length
    val out = new Array[Int](mTot)
    var kept = 0
    val n = input.numElements()
    var m = 0
    while (m < mTot) {
      val cs = codebook(m)
      if (cs.length > 0) {
        val ids = codeIds(m)
        val start = m * subDim
        var bestD = Double.NaN
        var bestC = 0
        var first = true
        var j = 0
        while (j < cs.length) {
          val c = cs(j)
          val dim = math.min(math.max(0, n - start), c.length)
          var acc = 0.0
          var i = 0
          while (i < dim) {
            val d = input.getDouble(start + i) - c(i)
            acc += d * d
            i += 1
          }
          val cid = ids(j)
          val cmp =
            if (first) -1
            else if (acc == bestD) 0
            else java.lang.Double.compare(acc, bestD)
          if (cmp < 0 || (cmp == 0 && cid < bestC)) { bestD = acc; bestC = cid }
          first = false
          j += 1
        }
        out(kept) = bestC
        kept += 1
      }
      m += 1
    }
    new GenericArrayData(
      if (kept == mTot) out else java.util.Arrays.copyOf(out, kept))
  }

  override def nullSafeEval(input: Any): Any =
    allCodes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAllCodes", this, classOf[PqAllCodesExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.allCodes($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def equals(other: Any): Boolean = other match {
    case o: PqAllCodesExpr =>
      child == o.child && subDim == o.subDim &&
      codeIds.length == o.codeIds.length &&
      codeIds.indices.forall(i => java.util.Arrays.equals(codeIds(i), o.codeIds(i))) &&
      java.util.Arrays.deepEquals(
        codebook.asInstanceOf[Array[AnyRef]], o.codebook.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(subDim),
      Int.box(java.util.Arrays.deepHashCode(codebook.asInstanceOf[Array[AnyRef]])))
}

object PqAllCodesExpr {
  /** Per-subspace nearest codeword ids of unit vector `u`, as a Column. */
  def column(u: Column, codeIds: Array[Array[Int]],
      codebook: Array[Array[Array[Double]]], subDim: Int): Column =
    GraftPlanBridge.column(PqAllCodesExpr(GraftPlanBridge.expr(u), codeIds, codebook, subDim))
}

case class PqNearestCodeExpr(
    left: Expression,  // m: INT subspace id
    right: Expression, // sv: ARRAY<DOUBLE> sub-vector
    codeIds: Array[Array[Int]],
    codebook: Array[Array[Array[Double]]])
  extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "pq_nearest_code"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (IntegerType, ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (INT, ARRAY<DOUBLE>) inputs, " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }

  /** The per-row kernel; public so generated code can call it. */
  def nearestCode(m: Int, input: ArrayData): Int = {
    val cs = codebook(m)
    val ids = codeIds(m)
    var bestD = Double.NaN
    var bestC = 0
    var first = true
    var j = 0
    while (j < cs.length) {
      val c = cs(j)
      val dim = math.min(input.numElements(), c.length)
      var acc = 0.0
      var i = 0
      while (i < dim) {
        val d = input.getDouble(i) - c(i)
        acc += d * d
        i += 1
      }
      val cid = ids(j)
      val cmp =
        if (first) -1
        else if (acc == bestD) 0
        else java.lang.Double.compare(acc, bestD)
      if (cmp < 0 || (cmp == 0 && cid < bestC)) { bestD = acc; bestC = cid }
      first = false
      j += 1
    }
    bestC
  }

  override def nullSafeEval(m: Any, sv: Any): Any =
    nearestCode(m.asInstanceOf[Int], sv.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebook", this, classOf[PqNearestCodeExpr].getName)
    nullSafeCodeGen(ctx, ev, (m, sv) => s"${ev.value} = $ref.nearestCode($m, $sv);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def equals(other: Any): Boolean = other match {
    case o: PqNearestCodeExpr =>
      left == o.left && right == o.right &&
      codeIds.length == o.codeIds.length &&
      codeIds.indices.forall(i => java.util.Arrays.equals(codeIds(i), o.codeIds(i))) &&
      java.util.Arrays.deepEquals(
        codebook.asInstanceOf[Array[AnyRef]], o.codebook.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(left, right,
      Int.box(java.util.Arrays.deepHashCode(codebook.asInstanceOf[Array[AnyRef]])))
}

object PqNearestCodeExpr {
  /** Nearest codeword id of sub-vector `sv` in subspace `m`, as a Column. */
  def column(m: Column, sv: Column, codeIds: Array[Array[Int]],
      codebook: Array[Array[Array[Double]]]): Column =
    GraftPlanBridge.column(PqNearestCodeExpr(
      GraftPlanBridge.expr(m), GraftPlanBridge.expr(sv), codeIds, codebook))
}
