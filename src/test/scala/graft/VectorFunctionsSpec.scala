package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** The codegen'd cosine expression: values, nulls, degenerate input, and
  * interpreted-vs-codegen agreement. */
class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def sim(a: Seq[Double], b: Seq[Double]): java.lang.Double = {
    Seq((a, b)).toDF("a", "b")
      .select(VectorFunctions.cosineSim($"a", $"b")).as[java.lang.Double].collect().head
  }

  test("orthogonal, identical, and opposite vectors") {
    assert(sim(Seq(1.0, 0.0), Seq(0.0, 1.0)) === 0.0)
    assert(math.abs(sim(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)) - 1.0) < 1e-15)
    assert(math.abs(sim(Seq(1.0, 0.0), Seq(-1.0, 0.0)) + 1.0) < 1e-15)
  }

  test("zero-norm input yields 0.0 (total function)") {
    assert(sim(Seq(0.0, 0.0), Seq(1.0, 1.0)) === 0.0)
  }

  test("null input yields null") {
    val r = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]])).toDF("a", "b")
      .select(VectorFunctions.cosineSim($"a", $"b")).collect().head
    assert(r.isNullAt(0))
  }

  test("dot_product: golden values, sequential-fold parity, null passthrough") {
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      Seq((a, b)).toDF("a", "b")
        .select(VectorFunctions.dotProduct($"a", $"b")).as[Double].collect().head
    assert(dot(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)) === 32.0)
    assert(dot(Seq(1.0, 0.0), Seq(0.0, 1.0)) === 0.0)
    // bit-exact against the same sequential fold the oracle runs
    val e = Tables.embeddings(spark, sf0001).limit(20)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .as[(Long, Seq[Double])].collect()
    val p = e.head._2.map(x => x * 0.5 - 0.1)
    val got = Tables.embeddings(spark, sf0001).limit(20)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .select($"vec_id", VectorFunctions.dotProduct($"v", lit(p.toArray)).as("d"))
      .as[(Long, Double)].collect().toMap
    for ((id, v) <- e) {
      var acc = 0.0
      v.zip(p).foreach { case (x, y) => acc += x * y }
      assert(got(id) === acc, s"vec $id")
    }
    val r = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]])).toDF("a", "b")
      .select(VectorFunctions.dotProduct($"a", $"b")).collect().head
    assert(r.isNullAt(0))
  }

  test("interpreted eval agrees with codegen over real embeddings") {
    val e = Tables.embeddings(spark, sf0001).limit(50)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val pairs = e.select($"vec_id".as("ia"), $"v".as("va"))
      .crossJoin(e.select($"vec_id".as("ib"), $"v".as("vb")))
      .filter($"ia" < $"ib")
    // codegen path (whole-stage) vs forced-interpreted path
    val cg = pairs.select($"ia", $"ib", VectorFunctions.cosineSim($"va", $"vb").as("s"))
      .orderBy("ia", "ib").as[(Long, Long, Double)].collect()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = try pairs.select($"ia", $"ib", VectorFunctions.cosineSim($"va", $"vb").as("s"))
      .orderBy("ia", "ib").as[(Long, Long, Double)].collect()
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(cg.length == interp.length && cg.length > 0)
    cg.zip(interp).foreach { case ((a1, b1, s1), (a2, b2, s2)) =>
      assert(a1 == a2 && b1 == b2)
      assert(s1 == s2, s"codegen $s1 != interpreted $s2 for ($a1,$b1)")
    }
  }

  test("sq_dist: hand values and bit-identity with the aggregate fold") {
    val r = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 0.0, 7.0))).toDF("a", "b")
      .select(VectorFunctions.sqDist($"a", $"b")).as[Double].head()
    assert(r === 4.0 + 16.0)
    // the expression replaced this exact fold in ProductQuantizer — the
    // sequential accumulation must match it bit-for-bit on real data
    val e = Tables.embeddings(spark, sf0001).limit(40)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val pairs = e.select($"vec_id".as("ia"), $"v".as("va"))
      .crossJoin(e.select($"vec_id".as("ib"), $"v".as("vb")))
      .filter($"ia" < $"ib")
    val native = pairs.select($"ia", $"ib", VectorFunctions.sqDist($"va", $"vb").as("d"))
      .orderBy("ia", "ib").as[(Long, Long, Double)].collect()
    val folded = pairs.select($"ia", $"ib",
        expr("aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)), " +
          "CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("d"))
      .orderBy("ia", "ib").as[(Long, Long, Double)].collect()
    assert(native.length == folded.length && native.nonEmpty)
    native.zip(folded).foreach { case ((a1, b1, d1), (a2, b2, d2)) =>
      assert(a1 == a2 && b1 == b2)
      assert(d1 == d2, s"native $d1 != folded $d2 for ($a1,$b1)")
    }
  }
}
