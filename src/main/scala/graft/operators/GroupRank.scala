package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed within-group ranking — `row_number() OVER (PARTITION BY
  * group ORDER BY order)` WITHOUT one window partition per group.
  *
  * The grouped sibling of [[AssignIds]]: a plain grouped window puts
  * every row of a group through ONE task, so low-cardinality strata
  * (languages, sources — 5-ish groups over 100 TB) serialize the whole
  * corpus through a handful of executors. The distributed formulation
  * reuses the range-partition + offsets recipe, with the group columns
  * leading the range key:
  *
  *  1. `repartitionByRange(group ++ order)` — range-disjoint
  *     partitions; a group spans a contiguous RUN of partitions, each
  *     internally ordered, so `offset + local position` is the global
  *     in-group rank;
  *  2. per-(partition, group) row counts — a frame of at most
  *     `partitions + groups` rows (each partition holds whole groups
  *     plus at most a leading/trailing fragment);
  *  3. running-sum offsets per group across partition ids — a window
  *     over that model-sized counts frame (never collected: unlike
  *     [[AssignIds]]' single global scan-left, the per-group running
  *     sum is itself expressible as a tiny window), broadcast-joined
  *     back;
  *  4. within-partition `row_number` windowed by (partition, group) —
  *     every window partition is one data partition's slice of one
  *     group.
  *
  * The ranked frame is durably pinned ([[Stage]]) between the
  * counts pass and the rank pass so both see one placement: range-
  * partition boundaries come from a row sample, so a recompute may
  * split differently and corrupt every offset. On a cluster that pin
  * writes the FULL ranked input to temp parquet once — which is why
  * every REGISTERED query now flows through [[withGroupRankBy]]
  * instead (ADVICE r10 "cheaper mechanism", done in r11): when the
  * order is `(numeric primary, unique tiebreak)` — every real caller —
  * placement can be a pure function of the row's VALUE against frozen
  * quantile boundaries, and nothing needs pinning at all. This generic
  * `Seq[Column]` path remains for arbitrary multi-key orders. (Order
  * keys must be made unique per group by a tie-break column — same
  * contract as [[AssignIds]].)
  */
object GroupRank {

  /** `df` plus a dense 1-based `out` rank within each `groupCols`
    * stratum following `orderCols`; with `totalOut` set, also each
    * row's group size (free — it is the same counts frame's full-
    * window sum, and rank-based cuts almost always need it).
    * `partitions <= 0` (the default) sizes the range shuffle from the
    * session's CURRENT `spark.sql.shuffle.partitions` — which
    * Bench/Verify tune bytes-proportionally
    * ([[graft.GraftSession.tuneShufflePartitions]]) — instead of a
    * constant parallelism ceiling (VERDICT r10 #1). */
  def withGroupRank(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[Column], out: String = "rk",
      partitions: Int = 0, totalOut: Option[String] = None): DataFrame = Stage(df.sparkSession) { st =>
    val parts = AssignIds.sizedPartitions(df, partitions)
    val rangeKey = groupCols.map(col) ++ orderCols
    val ranged = st.durable(
      df.repartitionByRange(parts, rangeKey: _*)
        .withColumn("__pid", spark_partition_id()))
    val counts = ranged.groupBy("__pid", groupCols: _*)
      .agg(count(lit(1)).as("__n"))
    val wOff = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(groupCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .withColumns(totalOut.map(t => t -> sum(col("__n")).over(wTot)).toMap)
      .drop("__n")
    val wLocal = Window.partitionBy(col("__pid") +: groupCols.map(col): _*)
      .orderBy(orderCols: _*)
    // null-safe on the group columns: a NULL group is a ranked window
    // partition, not a row the inner equi-join silently drops
    val renamedOff = offsets
      .withColumnRenamed("__pid", "__opid")
      .withColumnsRenamed(groupCols.map(c => c -> s"__og_$c").toMap)
    val joinCond = (col("__pid") === col("__opid")) +: groupCols.map(c =>
      col(c) <=> col(s"__og_$c"))
    ranged
      .join(broadcast(renamedOff), joinCond.reduce(_ && _))
      .withColumn(out, row_number().over(wLocal).cast("long") + col("__off"))
      .drop("__pid", "__opid", "__off")
      .drop(groupCols.map(c => s"__og_$c"): _*)
  }

  /** KEYED variant — same semantics as [[withGroupRank]] for orders of
    * the shape `(numeric primary [asc|desc], unique ascending long
    * tiebreak)`, with the durable corpus-sized pin REMOVED.
    *
    * [[withGroupRank]] must pin its range-shuffled frame
    * ([[Stage]]) because `repartitionByRange` draws partition
    * boundaries from a row SAMPLE: a recompute may split differently
    * and corrupt every offset, and off-local that pin is a full
    * corpus write to temp parquet (accepted in r10, retired here).
    * This path makes placement a pure function of the row's VALUE
    * instead: quantile-sketch boundaries are collected once to the
    * driver (`parts − 1` doubles — model-sized), frozen into the plan
    * as a literal, and each row's bucket is a codegen'd binary search
    * ([[graft.functions.RangeBucketExpr]]). Determinism no longer
    * depends on physical placement, so nothing needs pinning:
    *
    *  1. one pass builds the boundary sketch (`approxQuantile`, scan
    *     pruned to the key column);
    *  2. the counts pass is a map-side-combined aggregate over
    *     `(bucket, group)` — only `buckets × groups` rows shuffle;
    *  3. the rank pass shuffles the corpus ONCE, by `(bucket, group)`
    *     hash, for the within-bucket window; offsets broadcast back.
    *
    * Tied primaries all take the same bucket (strict-< search), so a
    * tie can never straddle a bucket boundary; the unique tiebreak
    * orders them inside the window. Boundary BALANCE only affects
    * parallelism, never ranks: any boundary set yields exact ranks,
    * which is why a sketch (even a nondeterministic one — it is
    * frozen after one collection) is sufficient. Contract: `primary`
    * numeric, non-null, finite; `tieBreak` unique within each group,
    * compared ascending.
    *
    * `totalOut` additionally emits the group size, as in
    * [[withGroupRank]].
    *
    * Cost model vs the pinned form: no pin means each pass replays the
    * input's LINEAGE (boundary sketch, counts, rank — three passes).
    * For scan-shaped lineage that is strictly cheaper than one durable
    * corpus write + two reads; for expensive lineage (tokenization,
    * joins) producing a NARROW rank input, the caller should stage
    * that narrow frame itself ([[Stage]]) — staging is a
    * performance choice here, never a correctness requirement, which
    * is exactly the property the pinned form lacks.
    *
    * `groupBound`: the caller's promise of an upper bound on the group
    * cardinality (0 = unknown). The offsets frame is `buckets × groups`
    * rows; it is broadcast-HINTED (bypassing
    * `autoBroadcastJoinThreshold`) only while that product is provably
    * small — `parts × groupBound ≤ 2²⁰` rows. With no bound and groups
    * present the hint is dropped and AQE decides at runtime (ADVICE
    * r11: a generic high-cardinality group column must not be able to
    * force an unbounded driver broadcast). Registered callers pass the
    * enum-sized bound of their stratum axis (sources, languages,
    * phases). */
  def withGroupRankBy(df: DataFrame, groupCols: Seq[String],
      primary: Column, primaryDesc: Boolean, tieBreak: Column,
      out: String = "rk", partitions: Int = 0,
      totalOut: Option[String] = None, groupBound: Long = 0L,
      inputBytes: BigInt = BigInt(-1)): DataFrame =
    keyedPrefix(df, groupCols, primary, primaryDesc, tieBreak,
      partitions, value = None, out, totalOut, groupBound, inputBytes)

  /** Distributed per-group RUNNING SUM of `value` in `(primary,
    * tiebreak)` order — `sum(value) OVER (PARTITION BY group ORDER BY
    * ... ROWS UNBOUNDED PRECEDING)` without the one-task-per-group
    * collapse, via the same keyed-bucket machinery as
    * [[withGroupRankBy]] (the counts pass sums `value` per
    * `(bucket, group)` instead of counting rows). The prefix sum
    * INCLUDES the current row. `totalOut` emits the group's full sum —
    * budget cuts (`cum ≤ fraction · total`) need both sides. */
  def withRunningSumBy(df: DataFrame, groupCols: Seq[String],
      primary: Column, primaryDesc: Boolean, tieBreak: Column,
      value: Column, out: String = "cum", partitions: Int = 0,
      totalOut: Option[String] = None, groupBound: Long = 0L,
      inputBytes: BigInt = BigInt(-1)): DataFrame =
    keyedPrefix(df, groupCols, primary, primaryDesc, tieBreak,
      partitions, value = Some(value), out, totalOut, groupBound,
      inputBytes)

  /** TOTAL-input-bytes ceiling under which the PLAIN grouped window is
    * the cheaper prefix plan and [[keyedPrefix]] takes it over the
    * bucket machinery. The safety quantity is bytes through ONE window
    * task — the LARGEST stratum's bytes — and callers can bound stratum
    * cardinality only from ABOVE (the wrong side for a max-stratum
    * estimate), so the gate bounds the worst case by the only sound
    * surrogate: total bytes ≥ max-stratum bytes. Calibrated from
    * SCALE.md §r13's window-vs-keyed octaves: the window stays 3.8×
    * faster through ~160 MB per actual stratum, so 64 MiB TOTAL — even
    * if one stratum holds everything — sits well inside the measured
    * window-wins regime; forfeited wins above it are the keyed form's
    * documented insurance premium. */
  private[graft] val WindowMaxTotalBytes = 64L << 20

  /** The plan gate (VERDICT r13 #1, widened r14): window below the
    * total-bytes envelope, keyed above. `inputBytes` must be the
    * caller's CLEAN base-scan estimate (a projected parquet relation's
    * `stats.sizeInBytes`) — joined/staged intermediates inflate the
    * product estimate by orders of magnitude (a probe read ~72 GB for
    * 5 000 rows through a rank join), so a caller without a trustworthy
    * estimate keeps the −1 default, which since r15 AUTO-DERIVES the
    * estimate off the input plan under [[autoInputBytes]]'s trust
    * rules (junk lineage → keyed, as before). Mis-gating
    * is always a perf trade, never a correctness one: the window arm is
    * the exact reference construction the keyed form is spec-proven
    * equal to. Empty groupCols never gate (a global single-partition
    * window is [[AssignIds]]' territory); the window arm also assumes
    * the caller's non-null finite keys — the keyed arm's raise-guard
    * still covers every above-envelope input. */
  private[graft] def windowFits(inputBytes: BigInt,
      groupCols: Seq[String]): Boolean =
    groupCols.nonEmpty && inputBytes >= 0 &&
      inputBytes <= BigInt(WindowMaxTotalBytes)

  /** The gate estimate, derived off the input plan itself (VERDICT r14
    * #5): every registered caller used to compute
    * `narrow.queryExecution.optimizedPlan.stats.sizeInBytes` by hand
    * and thread it down, and a caller that forgot got the keyed form
    * silently — safe but slow (`quality_topq` and `token_budget` were
    * exactly that). The operator now applies the same trust rules in
    * one place:
    *
    *  - TRUSTED: `Project`/`Filter` chains over a FILE-backed relation
    *    — the optimizer's size there is the measured file bytes scaled
    *    by column pruning (no join/aggregate estimate products), and a
    *    real corpus input is always file-backed. An
    *    `InMemoryRelation` (staged inputs resolve to one once the
    *    cache substitution runs) is trusted iff the plan it CACHES is
    *    that same scan shape — checked on its physical plan
    *    (codegen/project/filter/columnar-to-row over a file scan), with
    *    `statsOfPlanToCache` as the value, which is bit-identical to
    *    the estimate the caller read pre-staging.
    *  - NOT trusted (→ −1 → keyed, the safe arm): anything containing
    *    a join, aggregate, generate, repartition, or AQE-wrapped cache
    *    lineage — size-estimate products there are off by orders of
    *    magnitude in the dangerous direction. `LocalRelation`/`Range`
    *    toy frames are also left untrusted BY DESIGN: their stats are
    *    exact, but no real corpus is a local relation, and the keyed
    *    machinery's own specs drive small local frames through the
    *    bucket form precisely by relying on the conservative default
    *    (an explicit `inputBytes` still routes them anywhere a test
    *    wants).
    *
    * Callers whose gate-relevant bytes are NOT their input frame's —
    * a fill over a rank-join output whose clean pre-join estimate the
    * caller alone knows — still pass `inputBytes` explicitly; an
    * explicit value always wins over derivation. */
  private[graft] def autoInputBytes(df: DataFrame): BigInt = {
    import org.apache.spark.sql.catalyst.plans.logical
    import org.apache.spark.sql.execution
    def cleanLogical(p: logical.LogicalPlan): Boolean = p match {
      case pr: logical.Project => cleanLogical(pr.child)
      case f: logical.Filter => cleanLogical(f.child)
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.isInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        cleanPhysical(imr.cachedPlan)
      case _ => false
    }
    def cleanPhysical(p: execution.SparkPlan): Boolean = p match {
      case w: execution.WholeStageCodegenExec => cleanPhysical(w.child)
      case i: execution.InputAdapter => cleanPhysical(i.child)
      case c: execution.ColumnarToRowExec => cleanPhysical(c.child)
      case pr: execution.ProjectExec => cleanPhysical(pr.child)
      case f: execution.FilterExec => cleanPhysical(f.child)
      case _: execution.FileSourceScanExec => true
      case _ => false
    }
    val plan = df.queryExecution.optimizedPlan
    if (cleanLogical(plan)) plan.stats.sizeInBytes else BigInt(-1)
  }

  /** `parts − 1` quantile boundaries of `keyCol`, one distributed
    * sketch pass, collected once (model-sized: doubles). The sketch's
    * relative error must RESOLVE adjacent quantiles — requested probes
    * are 1/parts apart, so a fixed error (the 0.02 default) would
    * legally collapse everything past ~25 buckets into far fewer,
    * re-creating multi-TB window partitions at the bytes-tuned 10⁴–10⁵
    * part counts a large corpus wants. ε = 1/(4·parts) keeps each
    * boundary within a quarter-gap of its target, so bucket sizes stay
    * within ~1.5× of even. Balance only affects parallelism, never
    * ranks — which is also why past [[SketchDirectParts]] buckets the
    * sketch runs over a seeded SAMPLE capped at [[SketchSampleCap]]
    * rows: the Greenwald–Khanna insert/compress cost grows with 1/ε,
    * and the r12 keyedparts octave measured the uncapped sketch at
    * 15.9 s over 20 M rows at parts = 1024 vs ~2 s sampled. The
    * sampling error adds ~√(parts/sample) relative bucket-size noise
    * (≥ 2⁵ expected samples per bucket up to parts = 2¹⁶) on top of
    * the quarter-gap bound — parallelism skew, never a rank. The
    * boundaries are collected once and frozen into the plan, so
    * placement stays recompute-deterministic regardless of how the
    * sample would re-draw. */
  private[graft] val SketchDirectParts = 256
  private[graft] val SketchSampleCap = 1L << 21

  /** The sample cap ADAPTS to the requested resolution: the noise bound
    * wants ≥ 2⁵ expected samples per bucket, and the fixed 2²¹ floor
    * lands exactly on that floor at 2¹⁶ parts (measured, SCALE.md §r13)
    * — so past 2¹⁶ the cap rises as `parts · 2⁵` instead of silently
    * letting buckets get noisier (VERDICT r13 #5). The GK sketch cost
    * this cap bounds grows with sample · (1/ε) = sample · parts, so the
    * adaptive cap keeps that product at `parts² · 2⁵` — a 10⁵-part
    * caller pays a bigger sketch, never a noisier one. */
  private[graft] def sketchSampleCap(parts: Int): Long =
    math.max(SketchSampleCap, parts.toLong << 5)

  /** What [[boundarySketchTraced]] decided, for the specs that pin the
    * safe-side clamps: the sampling fraction actually applied (None =
    * sketched unsampled), how many exact key-only counts ran, and
    * whether the boundary-shortfall recovery re-sketched. */
  private[graft] final case class SketchTrace(
      sampledFraction: Option[Double], exactCounts: Int, resketched: Boolean)

  private[graft] def boundarySketch(df: DataFrame, keyCol: String,
      parts: Int): Seq[Double] =
    boundarySketchTraced(df, keyCol, parts)._1

  /** Sizing the sample needs a row count, but an eager `df.count()` at
    * plan-CONSTRUCTION time is a full extra lineage replay (ADVICE
    * r12) — on an unstaged expensive input that is a fourth corpus
    * pass. The optimizer's row-count stat is free to read but only an
    * ESTIMATE outside local/materialized-cache relations, and each
    * error direction has its own failure mode, so each is clamped from
    * the safe side:
    *
    *  - stat ABOVE the cap is trusted for the fraction — a HIGH
    *    mis-estimate (the documented LIMIT case: a limit's stat is the
    *    limit value even when fewer rows exist) only shrinks the
    *    sample, and a near-empty sample is caught BELOW by the
    *    boundary-shortfall recovery (ADVICE r13: without it the keyed
    *    path silently collapses toward one bucket — perf-only, ranks
    *    stay exact, but the serial-task shape this operator exists to
    *    avoid). A LOW mis-estimate in this branch would OVER-sample —
    *    an invisible cost cliff (boundaries resolve fine, so no
    *    recovery triggers) — which is why the stat is read at all only
    *    with CBO off, where every rowCount producer is exact or
    *    over-reporting by construction (see the 3-arg overload).
    *  - stat AT-OR-BELOW the cap is NEVER trusted alone: skipping the
    *    sample on a stat that under-reports the true count re-opens
    *    the uncapped-GK cost cliff the cap exists to close (VERDICT
    *    r13 #4), so the no-sample decision is verified with the exact
    *    column-pruned count first — Catalyst prunes every other
    *    projection out of that job, so tokenization / wide decodes
    *    upstream of the key never execute for it, and when the stat
    *    was honest that count is over ≤ cap rows.
    *
    * Shortfall recovery: far fewer resolved boundaries than requested
    * can be legitimate (a value-limited key — n_chars has 523 values),
    * so a shortfall after a STAT-sized sample is arbitrated by the
    * exact count once, and the sketch re-runs only when the fraction
    * was materially undersized (true count < half the stat). Every
    * clamp affects bucket BALANCE only — any boundary set yields exact
    * ranks. */
  private[graft] def boundarySketchTraced(df: DataFrame, keyCol: String,
      parts: Int): (Seq[Double], SketchTrace) =
    boundarySketchTraced(df, keyCol, parts,
      // the stat is read ONLY with CBO off: there the rowCount
      // producers are exact (LocalRelation, Range, materialized cache)
      // or OVER-reports (GlobalLimit — limit ≥ true count), so the
      // shortfall recovery below covers every mis-estimate direction.
      // CBO's ANALYZE-derived estimates can also UNDER-report inside
      // the above-cap regime (stale stats: claimed 5M, true 500M →
      // fraction cap/5M over 500M rows = a 0.42-sample GK cliff the
      // recovery cannot see, because its boundaries resolve fine), so
      // under CBO the sizing always pays the exact pruned count
      // (r14 review).
      if (df.sparkSession.conf.get("spark.sql.cbo.enabled", "false")
          .toBoolean) None
      else df.queryExecution.optimizedPlan.stats.rowCount.map(_.longValue))

  /** Same, with the row-count stat injectable — the spec feeds
    * deliberately wrong stats (under- and over-reports) to pin the
    * safe-side clamps without needing a plan shape that mis-estimates
    * on demand. */
  private[graft] def boundarySketchTraced(df: DataFrame, keyCol: String,
      parts: Int, statN: Option[Long]): (Seq[Double], SketchTrace) = {
    def sketch(src: DataFrame): Seq[Double] =
      src.stat.approxQuantile(keyCol,
        (1 until parts).map(_.toDouble / parts).toArray,
        1.0 / (4.0 * parts))
        .distinct.sorted.toSeq
    if (parts <= 1) (Seq.empty, SketchTrace(None, 0, resketched = false))
    else if (parts <= SketchDirectParts) // small ε is cheap; no extra job
      (sketch(df), SketchTrace(None, 0, resketched = false))
    else {
      val cap = sketchSampleCap(parts)
      var exactCounts = 0
      lazy val exactN = { exactCounts += 1; df.select(keyCol).count() }
      val statAboveCap = statN.exists(_ > cap)
      val n = if (statAboveCap) statN.get else exactN
      def sampled(rows: Long): (DataFrame, Option[Double]) =
        if (rows > cap) {
          val f = cap.toDouble / rows
          (df.sample(withReplacement = false, f, seed = 42L), Some(f))
        } else (df, None)
      val (src, fraction) = sampled(n)
      val bs = sketch(src)
      if (statAboveCap && bs.size < (parts - 1) / 2 && exactN < n / 2) {
        val (src2, fraction2) = sampled(exactN)
        (sketch(src2),
          SketchTrace(fraction2, exactCounts, resketched = true))
      } else (bs, SketchTrace(fraction, exactCounts, resketched = false))
    }
  }

  /** Shared core of the keyed paths: bucket → tiny counts aggregate →
    * broadcast offsets → within-bucket window. `value = None` ranks
    * (row_number + offset), `Some(v)` prefix-sums `v` (cast to long —
    * fractional values would truncate, so integral values are the
    * contract).
    *
    * Exactness and contract enforcement (r11 self-review):
    *  - the DOUBLE-cast key is used only for BUCKETING (the cast is
    *    monotone, so a bucket boundary can never invert an exact
    *    order); the window itself orders by the ORIGINAL primary
    *    expression, so integer primaries past 2⁵³ rank exactly;
    *  - a NULL, NaN, or infinite primary raises (`raise_error`)
    *    instead of silently vanishing (null joins), landing in bucket
    *    0 with a colliding rank (NaN compares false against every
    *    boundary but sorts greatest), or silently bucketing to an
    *    extreme (±∞ from an upstream double division — ADVICE r11);
    *  - the offsets join is NULL-SAFE on the group columns (`<=>`),
    *    matching window PARTITION BY semantics where a NULL group is a
    *    partition, not a dropped row. */
  private def keyedPrefix(df: DataFrame, groupCols: Seq[String],
      primary: Column, primaryDesc: Boolean, tieBreak: Column,
      partitions: Int, value: Option[Column], out: String,
      totalOut: Option[String], groupBound: Long = 0L,
      inputBytes: BigInt = BigInt(-1)): DataFrame = {
    // −1 (the default) = derive the estimate off the input plan under
    // [[autoInputBytes]]'s trust rules; an explicit value always wins
    val gateBytes =
      if (inputBytes == BigInt(-1)) autoInputBytes(df) else inputBytes
    if (windowFits(gateBytes, groupCols)) {
      // below the envelope the plain grouped window IS the cheaper
      // plan (one sort, no sketch/counts/offsets passes) and the exact
      // reference the keyed form is spec-proven equal to
      val ord = if (primaryDesc) primary.desc else primary.asc
      val wOrd = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(ord, tieBreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(groupCols.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val base = value match {
        case Some(v) => df.withColumn(out, sum(v.cast("long")).over(wOrd))
        case None =>
          df.withColumn(out, row_number().over(
            Window.partitionBy(groupCols.map(col): _*)
              .orderBy(ord, tieBreak)).cast("long"))
      }
      return totalOut.fold(base) { t =>
        base.withColumn(t, value.map(v => sum(v.cast("long")).over(wAll))
          .getOrElse(count(lit(1)).over(wAll)))
      }
    }
    val parts = AssignIds.sizedPartitions(df, partitions)
    val raw = primary.cast("double")
    val signed = if (primaryDesc) negate(raw) else raw
    val key = when(signed.isNull || isnan(signed) ||
        abs(signed) === lit(Double.PositiveInfinity),
      raise_error(lit("keyed GroupRank/AssignIds primary must be " +
        "non-null and finite")).cast("double")).otherwise(signed)
    val keyed = df.withColumn("__k", key)
      .withColumn("__v", value.map(_.cast("long")).getOrElse(lit(1L)))
    val bs = boundarySketch(keyed, "__k", parts)
    val bucket = graft.functions.RangeBucketExpr.column(col("__k"), bs)
    val bucketed = keyed.withColumn("__b", bucket)
    // map-side-combined: only buckets × groups rows reach the exchange
    val counts = bucketed.groupBy("__b", groupCols: _*)
      .agg(sum(col("__v")).as("__n"))
    val offsets =
      if (groupCols.nonEmpty) {
        // per-group running sum across bucket ids — a window over the
        // model-sized counts frame, partitioned by the group columns
        // (never empty-key, so never a SinglePartition exchange)
        val wOff = Window.partitionBy(groupCols.map(col): _*)
          .orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wTot = Window.partitionBy(groupCols.map(col): _*)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        counts
          .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
          .withColumns(totalOut.map(t => t -> sum(col("__n")).over(wTot)).toMap)
          .drop("__n")
      } else {
        // no groups: the empty-key window would plan a SinglePartition
        // exchange; scan-left the buckets-sized counts on the driver
        // instead (model-sized state, the flat-AssignIds discipline)
        val cm = counts.collect().map(r => r.getInt(0) -> r.getLong(1))
          .sortBy(_._1)
        val total = cm.map(_._2).sum
        val spark = df.sparkSession
        import spark.implicits._
        val base = cm.map(_._1)
          .zip(cm.map(_._2).scanLeft(0L)(_ + _))
          .toSeq.toDF("__b", "__off")
        totalOut.fold(base)(t => base.withColumn(t, lit(total)))
      }
    // the EXACT primary orders the window; __k only placed the bucket
    val ord = if (primaryDesc) primary.desc else primary.asc
    val wLocal = Window
      .partitionBy(col("__b") +: groupCols.map(col): _*)
      .orderBy(ord, tieBreak)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = value.map(_ => sum(col("__v")).over(wLocal))
      .getOrElse(row_number().over(wLocal).cast("long"))
    // null-safe join back (a NULL group is a ranked partition, not a
    // dropped row); offsets columns renamed so the condition can name
    // both sides. The frame is buckets × groups rows — broadcast-
    // HINTED only while that product is provably small: no groups
    // (parts rows exactly), or the caller promised a group-cardinality
    // bound and parts × bound ≤ 2²⁰ rows (≲ tens of MB). Otherwise the
    // hint is dropped — AQE still broadcasts at runtime if the actual
    // frame fits, so unknown parts × groups degrades to a shuffle join
    // instead of a forced driver OOM (ADVICE r11).
    val renamed = offsets
      .withColumnRenamed("__b", "__ob")
      .withColumnsRenamed(groupCols.map(c => c -> s"__og_$c").toMap)
    val offFrame =
      if (groupCols.isEmpty) broadcast(renamed)
      // division, not multiplication: `parts × groupBound` overflows a
      // Long for a large caller bound (parts=2, bound=2⁶² → negative
      // product passing the ≤ test), which would hint-force the join
      // with a per-bucket guard that can never trip — re-opening the
      // unbounded driver-broadcast path this gate closes (ADVICE r12)
      else if (groupBound > 0 && groupBound <= (1L << 20) / parts) {
        // the promise is VALIDATED in the plan, not trusted: the
        // broadcast frame is (bucket, group)-pair rows, and the safety
        // invariant is `rows ≤ parts × groupBound`. Checked per
        // BUCKET — a window partitioned by __ob over the model-sized
        // offsets frame (never a SinglePartition exchange): a bucket's
        // row count is the number of groups present in it, so if the
        // promise holds every bucket is ≤ groupBound, and by
        // pigeonhole any frame exceeding the cap has a bucket above
        // it. A dirty free-text group axis therefore fails loud in the
        // broadcast build instead of force-materializing an unbounded
        // frame on the driver (the window also reuses the computed
        // counts, where a count+join guard would re-run the
        // corpus-scanning counts pass).
        val wB = Window.partitionBy(col("__ob"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        broadcast(renamed.withColumn("__ob",
          when(count(lit(1)).over(wB) > groupBound,
            raise_error(lit("keyed GroupRank/AssignIds: a bucket holds " +
              s"more than groupBound=$groupBound groups — the caller's " +
              "group-cardinality promise is violated")).cast("int"))
            .otherwise(col("__ob"))))
      } else renamed
    val cond = (col("__b") === col("__ob")) +: groupCols.map(c =>
      col(c) <=> col(s"__og_$c"))
    bucketed
      .join(offFrame, cond.reduce(_ && _))
      .withColumn(out, local + col("__off"))
      .drop("__k", "__v", "__b", "__ob", "__off")
      .drop(groupCols.map(c => s"__og_$c"): _*)
  }
}
