package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every [[QueryPack]]: each pack contributes named queries
  * `(SparkSession, sfDir) => DataFrame` and, where ANSI-SQL-expressible,
  * a DuckDB oracle statement over the same parquet tables. Results are
  * deterministically ordered and use decimal-exact aggregation so the
  * driver's hash compare is stable (see [[graft.queries.OracleSafe]]).
  */
object SparkEntry {

  /** All query packs, in registration order. */
  def packs: Seq[QueryPack] = Seq(
    Dashboard, Relational, TpcH, Extended, graft.serving.Serving,
    graft.dedup.Dedup, graft.similarity.Similarity,
    graft.text.TextAnalysis, graft.multimodal.Multimodal)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Dashboard.salesByHour(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each runs in
    * its own [[graft.operators.Stage]] scope, so whatever the query
    * materialized and its result cannot read is released when it returns. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.map(_.queries).reduce(_ ++ _).transform { (_, fn) =>
      (spark: SparkSession, d: String) => graft.operators.Stage(spark)(_ => fn(spark, d))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (sketch-based dedup etc.) → driver records a rows-only check. */
  def oracleSql: Map[String, String] =
    packs.map(_.oracles).reduce(_ ++ _)
}
