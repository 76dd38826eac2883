package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.Stage

/** [[graft.operators.Stage]]'s staged frames: a scope releases the ones
  * its result cannot read when it exits; the ones the result reads are
  * the caller's, dropped by its `clearCache()` on a schedule it knows. */
class StagedSpec extends SparkSpec {
  import spark.implicits._

  test("a staged frame the result reads is the caller's: it stays " +
    "cached across actions on the result until clearCache()") {
    var staged: DataFrame = null
    val result = Stage(spark) { st =>
      staged = st.stage((1 to 100).toDF("x").withColumn("y", col("x") * 2))
      staged.groupBy(col("x") % 10).agg(sum("y").as("s"))
    }
    assert(staged.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(result.count() === 10L)
    assert(result.count() === 10L)
    org.apache.spark.TestBus.drain(spark.sparkContext)
    assert(staged.storageLevel === StorageLevel.MEMORY_AND_DISK,
      "no action on the result may release the caller's stage")
    spark.catalog.clearCache()
    assert(staged.storageLevel === StorageLevel.NONE)
  }

  test("scoped releases the stage when query CONSTRUCTION throws — the " +
    "keyed operators run eager passes before releaseAfter can arm") {
    var captured: org.apache.spark.sql.DataFrame = null
    intercept[RuntimeException] {
      Stage(spark) { st =>
        val staged = st.stage((1 to 10).toDF("x"))
        captured = staged
        staged.count() // materialize the cache like an eager sketch
        throw new RuntimeException("contract violation in eager pass")
      }
    }
    assert(captured.storageLevel === StorageLevel.NONE,
      "construction failure must release synchronously")
  }

  test("a built stage keeps the checkpoints it reads: a second action " +
    "on the result replays the stage's lineage once clearCache drops it") {
    var staged: DataFrame = null
    val result = Stage(spark) { st =>
      val cp = st.checkpoint((1 to 100).toDF("x")
        .groupBy((col("x") % 7).as("k")).agg(sum("x").as("s")))
      staged = st.stage(cp.withColumn("t", col("s") * 2))
      staged.count() // built during construction, as a fill gate's quantiles do
      staged.filter(col("k") > 2)
    }
    assert(result.count() === 4L)
    spark.catalog.clearCache()
    assert(staged.storageLevel === StorageLevel.NONE)
    assert(result.collect().map(_.getLong(2)).sorted.toSeq ===
      (3 to 6).map(k => (1 to 100).filter(_ % 7 == k).sum * 2L))
    assert(result.count() === 4L)
  }

  test("a failed Concurrently arm leaves nothing staged: the scope " +
    "releases only after the other arm has stopped") {
    var late: DataFrame = null
    intercept[IllegalStateException] {
      Stage(spark) { st =>
        graft.operators.Concurrently.pair(
          throw new IllegalStateException("first arm"),
          { Thread.sleep(500); late = st.stage((1 to 5).toDF("x")); late })
      }
    }
    assert(late != null && late.storageLevel === StorageLevel.NONE)
  }
}
