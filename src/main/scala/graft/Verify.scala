package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (local iteration only; the driver passes 2): run
    // just these comma-separated queries
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the factory writes micros (not INT96) parquet timestamps, so DuckDB
    // reads identical timestamp values
    val spark = GraftSession.builder("graft-verify", s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // bytes-proportional initial shuffle sizing (GraftSession scaladoc)
    GraftSession.tuneShufflePartitions(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // TimestampType is "with local TZ" and annotates parquet as
      // UTC-adjusted; the DuckDB oracle produces naive timestamps. Cast
      // result timestamps to NTZ (same wall value under the pinned UTC
      // session) so the comparison sees identical types AND values.
      // DecimalType renders scale-exact ("1166.10") while the driver reads
      // DuckDB decimals back as float64 ("1166.1"); cast decimals to DOUBLE
      // so both sides land on the identical nearest-double rendering — the
      // aggregation itself stays decimal-exact upstream of this final cast.
      def ntz(df: org.apache.spark.sql.DataFrame) = df.select(df.schema.fields.map { f =>
        f.dataType match {
          case org.apache.spark.sql.types.TimestampType =>
            org.apache.spark.sql.functions.col(f.name)
              .cast(org.apache.spark.sql.types.TimestampNTZType).as(f.name)
          case _: org.apache.spark.sql.types.DecimalType =>
            org.apache.spark.sql.functions.col(f.name)
              .cast(org.apache.spark.sql.types.DoubleType).as(f.name)
          case _ => org.apache.spark.sql.functions.col(f.name)
        }
      }.toSeq: _*)
      try ntz(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // a filtered run writes a DIFFERENT artifact name: a partial
    // oracle_sql.json in a previously-full outDir would masquerade as the
    // complete driver contract during local iteration
    val sqlName = if (only.isDefined) "oracle_sql.partial.json" else "oracle_sql.json"
    if (only.isDefined)
      System.err.println(s"[verify] PARTIAL run (${only.get.size} queries): " +
        s"writing $sqlName; stale full-run results may remain in $outDir")
    Files.writeString(Paths.get(s"$outDir/$sqlName"), json)
    spark.stop()
  }
}
