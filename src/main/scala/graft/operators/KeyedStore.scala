package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Materialize a frame ONCE into a deserialized checkpoint whose
  * key-hash layout and in-partition key order are DECLARED to the
  * planner (r18; built on
  * [[org.apache.spark.sql.execution.graft.GraftPlanBridge.checkpointHashPartitioned]]).
  *
  * The shape this exists for: inverted-index candidate generators that
  * SELF-JOIN a derived frame on a blocking key (deletion-variant
  * hashes, LSH band keys, winnowing fingerprints). Un-materialized,
  * the derivation pipeline is computed once per join side and the join
  * exchanges both scans; a plain `localCheckpoint` fixes the double
  * compute but hides the layout, so the join still exchanges both
  * sides; a columnar `persist` keeps the layout but its per-scan
  * decode measured 2–7× the cost of iterating deserialized rows (the
  * r18 kcore/LPA A/Bs). This helper pays ONE pinned-count exchange +
  * in-partition sort at materialize, and every downstream
  * join/aggregate on the keys is then exchange-free AND sort-free over
  * warm deserialized blocks.
  *
  * The partition count is pinned (the session's byte-derived
  * `spark.sql.shuffle.partitions` — scale-adaptive via
  * `GraftSession.tuneShufflePartitions`, never a core-count literal)
  * because the declaration must stay TRUE: an AQE-coalesced exchange
  * would both falsify it and re-create the serial-layout trap the r17
  * fuzzy A/B rejected (a skinny exchange coalesced to ~2 partitions
  * serializing the CPU-heavy verify behind it).
  *
  * Block lifecycle matches every other localCheckpoint in the engine:
  * released by the ContextCleaner when the plan is GC'd (a loop that
  * can scope the release precisely hands the frame to its
  * [[graft.operators.Fixpoint]] driver, as [[graft.queries.Extended.lpaOf]]
  * does). */
object KeyedStore {

  def byKeys(df: DataFrame, keys: String*): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    org.apache.spark.sql.execution.graft.GraftPlanBridge
      .checkpointHashPartitioned(
        df.repartition(n, keys.map(col): _*)
          .sortWithinPartitions(keys.map(col): _*),
        keys, sortedByKeys = true)
  }
}
