package graft

import org.apache.spark.sql.functions._
import graft.operators.Stage

/** [[graft.operators.Stage]]'s durable and keyed frames. `durable` is the
  * fault-tolerant form for gate-critical frames (VERDICT r9 #2): local
  * sessions keep the fast in-memory checkpoint, non-local sessions write
  * a temp parquet every executor can recompute from. */
class MaterializeSpec extends SparkSpec {

  private def frame = {
    import spark.implicits._
    Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", -2.0))
      .toDF("id", "tag", "x")
  }

  test("local path preserves rows and schema and severs lineage") {
    val m = Stage(spark)(_.durable(frame.filter(col("id") > 1)))
    assert(m.schema === frame.schema)
    assert(m.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(2L, 3L))
    // localCheckpoint path: the logical plan is a scan of materialized
    // blocks, not the original filter
    assert(m.queryExecution.optimizedPlan.collectLeaves().nonEmpty)
  }

  test("durable path round-trips through temp parquet with identical content") {
    val dir = tmpDir("materialize")
    spark.conf.set("spark.graft.materialize.dir", dir)
    try {
      val m = Stage(spark)(_.durable(frame, parquet = true))
      assert(m.orderBy("id").collect().toSeq ===
        frame.orderBy("id").collect().toSeq)
      // the frame really lives on stable storage now
      val root = new java.io.File(dir, "graft-materialize")
      val mats = Option(root.listFiles()).getOrElse(Array.empty)
      assert(mats.exists(_.getName.startsWith("mat-")),
        s"expected a mat-* dir under $root")
      // the durable branch allocates through tempDir and writes the
      // frame one level down (mat-*/frame/part-*.parquet)
      def hasParquet(f: java.io.File): Boolean =
        Option(f.listFiles()).getOrElse(Array.empty).exists(c =>
          c.getName.endsWith(".parquet") || hasParquet(c))
      assert(mats.exists(hasParquet))
    } finally spark.conf.unset("spark.graft.materialize.dir")
  }

  test("durable path keeps empty frames readable (schema-only parquet)") {
    val dir = tmpDir("materialize-empty")
    spark.conf.set("spark.graft.materialize.dir", dir)
    try {
      val m = Stage(spark)(_.durable(frame.filter(col("id") > 100), parquet = true))
      assert(m.count() === 0L)
      // parquet re-read relaxes nullability (standard Spark) — names and
      // types are the contract the gate plans depend on
      assert(m.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
        frame.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    } finally spark.conf.unset("spark.graft.materialize.dir")
  }

  test("tempDir resolves under the shared materialization root (VERDICT r10 #3)") {
    val dir = tmpDir("materialize-tempdir")
    spark.conf.set("spark.graft.materialize.dir", dir)
    try {
      val got = Stage.tempDir(spark, "snap-tt")
      assert(got.contains(dir) && got.contains("graft-materialize") &&
        got.contains("snap-tt-"), s"tempDir escaped the shared root: $got")
      assert(new java.io.File(new java.net.URI(got).getPath).isDirectory ||
        new java.io.File(got).isDirectory)
      // without the override, the root falls back to the warehouse dir —
      // a filesystem every executor can reach, unlike driver /tmp
      spark.conf.unset("spark.graft.materialize.dir")
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val fallback = Stage.tempDir(spark, "snap-tt")
      assert(fallback.contains(new org.apache.hadoop.fs.Path(wh).toUri.getPath),
        s"fallback $fallback not under warehouse $wh")
    } finally spark.conf.unset("spark.graft.materialize.dir")
  }

  test("mode selection: local session takes the localCheckpoint path") {
    // apply() on the local test session must NOT write parquet anywhere
    val dir = tmpDir("materialize-local")
    spark.conf.set("spark.graft.materialize.dir", dir)
    try {
      Stage(spark)(_.durable(frame)).count()
      val root = new java.io.File(dir, "graft-materialize")
      assert(!root.exists(), "local mode must not write durable temp parquet")
    } finally spark.conf.unset("spark.graft.materialize.dir")
  }

  test("checkpointHashPartitioned: a key must name exactly one column") {
    val twoKs = spark.range(4).select(col("id").as("k"), (col("id") * 2).as("k"))
    val dup = intercept[IllegalArgumentException] {
      Stage(spark)(_.byKeys(twoKs, "k"))
    }
    assert(dup.getMessage.contains("matches 2 columns"))
    val none = intercept[IllegalArgumentException] {
      Stage(spark)(_.byKeys(frame, "nope"))
    }
    assert(none.getMessage.contains("matches 0 columns"))
  }
}
