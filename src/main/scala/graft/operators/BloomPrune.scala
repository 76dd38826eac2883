package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.execution.graft.GraftPlanBridge
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.BinaryType

/** Bloom-filter join pruning: drop big-side rows that cannot match
  * BEFORE the join's shuffle.
  *
  * At 100 TB the dominant cost of a selective fact⋈dim join is
  * shuffling fact rows that will never find a partner. A Bloom filter
  * of the build-side keys (a few MB for millions of keys) broadcast
  * into the probe-side scan turns those rows away at the map side, so
  * the shuffle carries only `selectivity + fpp` of the fact table. The
  * filter is only a pre-screen — the exact join still runs after it —
  * so false positives cost bandwidth, never correctness.
  *
  * Spark's AQE can inject this itself (runtime row-level filtering),
  * but only behind size heuristics; this operator makes the decision
  * explicit and testable. Built on Spark's own sketch expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain`, the pair the
  * runtime-filter rule uses), both codegen-capable, keyed on
  * `xxhash64` of the join key.
  */
object BloomPrune {

  /** Aggregate the distinct xxhash64'd keys of `df(key)` into a Bloom
    * filter, returned serialized. One partial+final aggregate pass;
    * the result is a few MB, safe to hold on the driver / broadcast. */
  def keyBloom(df: DataFrame, key: String,
      expectedItems: Long, fpp: Double = 0.03): Array[Byte] = {
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val agg = new BloomFilterAggregate(
      XxHash64(Seq(GraftPlanBridge.expr(col(key))), 42L),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression()
    df.select(GraftPlanBridge.column(agg)).head().getAs[Array[Byte]](0)
  }

  /** The probe predicate: true iff `key` might be in the serialized
    * filter. False negatives are impossible. */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    GraftPlanBridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType),
      XxHash64(Seq(GraftPlanBridge.expr(key)), 42L)))

  /** Semi join with map-side Bloom pruning: filter `big` by a Bloom of
    * `small`'s keys, then run the exact semi join on what survives.
    * Result is identical to the plain semi join for any filter size —
    * the Bloom only moves work, never answers. */
  def prunedSemiJoin(big: DataFrame, bigKey: String,
      small: DataFrame, smallKey: String,
      expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    // xxhash64 is type-sensitive (hashInt and hashLong differ for equal
    // numeric values) while join equality coerces — mismatched key types
    // would make every probe miss and silently drop all matches, so
    // reject them loudly instead
    val (bt, st) = (big.schema(bigKey).dataType, small.schema(smallKey).dataType)
    require(bt == st,
      s"join key types must match for Bloom hashing: $bigKey is $bt, $smallKey is $st")
    val bloom = keyBloom(small, smallKey, expectedItems, fpp)
    big.filter(mightContain(bloom, big(bigKey)))
      .join(small.select(smallKey), big(bigKey) === small(smallKey), "left_semi")
  }

  /** Anti join of a SMALL probe against a HUGE filter side without
    * shuffling the huge side: keep `probe` rows whose key has no match
    * in `history`.
    *
    * The shape this exists for is the batch-vs-history guard of an
    * incremental pipeline (e.g. [[graft.streaming.StreamingAnalytics
    * .curateStream]]'s pass-table idempotency check): `history` is the
    * accumulated corpus — too big to broadcast — so once it outgrows
    * the broadcast threshold the plain `left_anti` sort-merge-shuffles
    * the ENTIRE history on every batch. The cure is the semi-join
    * direction discipline: the Bloom is built over the SMALL side and
    * filters the BIG side map-side (building it over history would
    * shuffle sketch-sized partial states per task and merge them
    * serially — SCALE.md "The anti-join guard, measured" has that inversion 22× SLOWER
    * than the plain join at a 9.6M-row history; the committed shape
    * below measures flat):
    *
    *  1. a Bloom of the PROBE's keys — KBs, it is batch-sized —
    *     aggregates map-side;
    *  2. history rows the Bloom rejects CANNOT match any probe row and
    *     never leave their scan task: only the might-match sliver
    *     (true matches + `fpp` of history) reaches the distinct;
    *  3. the sliver's distinct keys join back into the exact anti join
    *     against the probe — broadcast when AQE's runtime size of the
    *     sliver clears the threshold (the common case), shuffle
    *     otherwise. False-positive keys match no probe row — they
    *     cost bytes, never correctness.
    *
    * Result is identical to `probe.join(history, key, "left_anti")`:
    * null-key probe rows survive both forms (null never equi-matches
    * and the final join IS a plain anti join), and an empty history
    * yields an empty key set, keeping the whole probe. `fpp` defaults
    * low because bits are cheap on a batch-sized Bloom and `fpp`
    * multiplies HISTORY into the sliver.
    *
    * Scale envelope, honestly: history is scanned once map-side per
    * call and shuffles only `matches + fpp·|history|` keys; the join
    * back is AQE-sized, so a history-proportional match set degrades
    * to a linear shuffle join instead of a driver-collapsing
    * broadcast (ADVICE r8). For a pass table
    * so large even one scan per batch is too much, the right structure
    * is not a better join but a bucketed pass table
    * ([[graft.Catalog.createBucketed]] on the key) — the guard then
    * plans as a zero-exchange bucket-local anti join. */
  def prunedAntiJoin(probe: DataFrame, probeKey: String,
      history: DataFrame, historyKey: String,
      expectedItems: Long, fpp: Double = 0.001): DataFrame = {
    val (pt, ht) = (probe.schema(probeKey).dataType, history.schema(historyKey).dataType)
    require(pt == ht,
      s"join key types must match for Bloom hashing: $probeKey is $pt, $historyKey is $ht")
    val bloom = keyBloom(probe, probeKey, expectedItems, fpp)
    // an all-null-key (or empty) probe aggregates to a NULL sketch:
    // nothing can equi-match, the anti join returns the probe unchanged
    if (bloom == null) return probe
    // NO forced broadcast on the matched keys: the set is bounded by
    // true matches + fpp·|history| — NOT by the probe — so when most
    // of history genuinely matches, a broadcast hint would collect a
    // history-proportional frame through the driver (the same
    // maxResultSize cliff [[graft.queries.Extended
    // .GraphBroadcastRowCap]] exists to avoid). The sliver arrives out
    // of the distinct's shuffle, which is exactly where AQE has exact
    // runtime sizes: under the broadcast threshold it converts the
    // join to broadcast (the common, sliver-sized case); past it the
    // exact anti join shuffle-joins — linear, no driver collection,
    // row-identical either way.
    val matchedKeys = history
      .filter(mightContain(bloom, history(historyKey)))
      .select(col(historyKey).as(probeKey)).distinct()
    probe.join(matchedKeys, Seq(probeKey), "left_anti")
  }
}
