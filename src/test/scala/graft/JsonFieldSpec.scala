package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.functions.JsonIntExpr

/** json_int: the byte-scan contract equals the oracle regex
  * `"key": *(-?[0-9]+)` — and agrees with from_json on well-formed
  * flat payloads. */
class JsonFieldSpec extends SparkSpec {
  import spark.implicits._

  private def scan(rows: (String, String)*): Seq[Option[Int]] = {
    rows.toDF("s", "key")
      .select(JsonIntExpr.column(col("s"), col("key")).as("v"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
  }

  test("plain fields, spaces, negatives, first-occurrence, misses") {
    val got = scan(
      ("""{"k": 42, "x": 1}""", "k"),
      ("""{"k":7}""", "k"),
      ("""{"k":   -13}""", "k"),      // multiple spaces
      ("""{"a": 1, "k": 5, "k": 9}""", "k"), // first occurrence wins
      ("""{"kk": 3}""", "k"),         // not the key
      ("""{"x": 1}""", "k"),          // absent
      ("""{"k": "str"}""", "k"),      // no digits after colon
      ("""not json at all "k": 12""", "k"), // regex semantics: still matches
      ("""{"k": 2147483648}""", "k"), // int overflow → null (CAST would error)
      ("""{"k": -2147483648}""", "k")) // Int.MinValue exactly
    assert(got === Seq(Some(42), Some(7), Some(-13), Some(5), None, None,
      None, Some(12), None, Some(-2147483648)))
  }

  test("agrees with from_json on the corpus and with the oracle regex") {
    val ev = Tables.events(spark, sf0001)
    val viaJson = ev.select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k"))
      .orderBy("event_id").collect().toSeq
    val viaScan = ev.select(col("event_id"), JsonIntExpr.column(col("props"), lit("k")).as("k"))
      .orderBy("event_id").collect().toSeq
    val viaRegex = ev.select(col("event_id"),
        regexp_extract(col("props"), "\"k\": *(-?[0-9]+)", 1).cast("int").as("k"))
      .orderBy("event_id").collect().toSeq
    assert(viaScan.nonEmpty)
    assert(viaScan === viaJson)
    assert(viaScan === viaRegex)
  }

  test("interpreted eval agrees with codegen") {
    val df = Seq("""{"k": 1}""", """{"k": -2}""", """{"x": 3}""").toDF("s")
    def run(): Seq[Option[Int]] = df.select(JsonIntExpr.column(col("s"), lit("k")).as("v"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
    val cg = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(cg === interp)
    assert(cg === Seq(Some(1), Some(-2), None))
  }
}
