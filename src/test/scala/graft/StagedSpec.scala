package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.Stage

/** [[graft.operators.Stage]]'s staged frames — the self-releasing cache
  * that keyed-operator callers stage expensive lineage with (ADVICE r11:
  * a long-lived session must not accumulate cached corpus-sized frames
  * waiting for somebody to call clearCache). */
class StagedSpec extends SparkSpec {
  import spark.implicits._

  /** Stages `df` in a scope whose result is `build(staged)`; returns both. */
  private def scoped(df: DataFrame, session: SparkSession = spark)(
      build: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    var staged: DataFrame = null
    val result = Stage(session) { st => staged = st.stage(df); build(staged) }
    (staged, result)
  }

  private def eventually(timeoutMs: Long = 20000L)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    cond
  }

  test("stage() is a spill-safe persist; releaseAfter unpersists once " +
    "the terminal action on the RESULT completes") {
    val (staged, result) = scoped(
      (1 to 100).toDF("x").withColumn("y", col("x") * 2))(
      _.groupBy(col("x") % 10).agg(sum("y").as("s")))
    assert(staged.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(result.count() === 10L)
    // listener events arrive on the bus thread — poll, don't assume
    assert(eventually()(staged.storageLevel === StorageLevel.NONE),
      "cache must release after the terminal action")
  }

  test("interior actions on OTHER plans consume the cache without " +
    "releasing it — only the result plan triggers release") {
    val (staged, result) = scoped(
      (1 to 50).toDF("a").withColumn("b", col("a") + 1))(_.filter(col("b") > 25))
    // an interior pass (the keyed operators' counts collect): a plan
    // that scans the staged frame but does not contain the result
    assert(staged.agg(sum("b")).collect()(0).getLong(0) === 1325L)
    Thread.sleep(300) // give a wrong release time to happen
    assert(staged.storageLevel !== StorageLevel.NONE,
      "an interior action must not release the stage")
    assert(result.count() === 26L)
    assert(eventually()(staged.storageLevel === StorageLevel.NONE))
  }

  test("failure of the terminal action also releases") {
    val (staged, result) = scoped((1 to 10).toDF("x"))(
      _.select(assert_true(col("x") < 5).as("a"), col("x")))
    intercept[Exception] { result.collect() }
    assert(eventually()(staged.storageLevel === StorageLevel.NONE),
      "failed terminal action must still release")
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
    "on the result replays the stage's lineage once the listener drops it") {
    var staged: DataFrame = null
    val result = Stage(spark) { st =>
      val cp = st.checkpoint((1 to 100).toDF("x")
        .groupBy((col("x") % 7).as("k")).agg(sum("x").as("s")))
      staged = st.stage(cp.withColumn("t", col("s") * 2))
      staged.count() // built during construction, as a fill gate's quantiles do
      staged.filter(col("k") > 2)
    }
    assert(result.count() === 4L)
    assert(eventually()(staged.storageLevel === StorageLevel.NONE))
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

  test("abandoned plans release after the activity TTL: a staged query " +
    "that is never executed cannot cache-leak a working session") {
    val (staged, _) = scoped((1 to 20).toDF("x")) { s =>
      s.count() // materialize (as the operators' eager passes do)
      s.filter(col("x") > 5)
    }
    assert(staged.storageLevel !== StorageLevel.NONE)
    // the result is never acted on; other session work churns past it
    val other = (1 to 3).toDF("y")
    for (_ <- 0 until Stage.AbandonAfterEvents + 2) other.count()
    assert(eventually()(staged.storageLevel === StorageLevel.NONE),
      "unconsumed stage must release after the activity TTL")
  }

  test("MaxArmed evict-oldest: arming past the cap releases the oldest " +
    "scope even on a session that never EXECUTES anything (the event " +
    "TTL never ticks on an idle session — ADVICE r12)") {
    val (oldest, _) = scoped((1 to 10).toDF("x")) { s =>
      s.count() // materialize (as the operators' eager passes do)
      s.filter(col("x") > 1)
    }
    assert(oldest.storageLevel !== StorageLevel.NONE)
    // build-only churn: plans armed but never executed; 2× the cap so
    // the oldest scope is guaranteed out of the bounded queue window
    for (i <- 0 until Stage.MaxArmed * 2)
      scoped((1 to 3).toDF("c"))(_.filter(col("c") > i % 3))
    // eviction is synchronous on the arming call — no listener event
    // (and hence no eventually()) involved
    assert(oldest.storageLevel === StorageLevel.NONE,
      "the cap must evict the oldest armed scope")
  }

  test("the eviction cap is PER SESSION: build-only churn in another " +
    "SparkSession must not unpersist this session's live scope " +
    "(ADVICE r13 — cross-tenant eviction)") {
    val (live, _) = scoped((1 to 10).toDF("x")) { s =>
      s.count() // materialize (as the operators' eager passes do)
      s.filter(col("x") > 1)
    }
    assert(live.storageLevel !== StorageLevel.NONE)
    // 2× the cap of scopes armed in a SIBLING session: under the old
    // process-wide cap this churn alone evicted `live`
    val other = spark.newSession()
    var othersOldest: org.apache.spark.sql.DataFrame = null
    for (i <- 0 until Stage.MaxArmed * 2) {
      val (s, _) = scoped(other.range(3).withColumn("c", col("id") + i), other)(
        _.filter(col("c") > 1))
      if (othersOldest == null) othersOldest = s
    }
    assert(live.storageLevel !== StorageLevel.NONE,
      "another session's churn must not evict this session's scope")
    // the sibling session's own cap still enforces: ITS oldest evicted
    assert(othersOldest.storageLevel === StorageLevel.NONE,
      "the arming session's own oldest scope must still be evicted")
    assert(live.filter(col("x") > 1).count() === 9L)
    assert(eventually()(live.storageLevel === StorageLevel.NONE))
  }

  test("MaxArmedTotal backstop: many idle sibling sessions cannot pin " +
    "unbounded cache in aggregate — past the process-wide total the " +
    "globally oldest scope is evicted even across sessions (r14 review)") {
    val (first, _) = scoped((1 to 10).toDF("x")) { s =>
      s.count()
      s.filter(col("x") > 1)
    }
    assert(first.storageLevel !== StorageLevel.NONE)
    // enough sibling sessions, each inside its own per-session cap, to
    // push the process-wide total past MaxArmedTotal
    val sessionsNeeded = Stage.MaxArmedTotal / Stage.MaxArmed + 1
    for (s <- 0 until sessionsNeeded) {
      val sess = spark.newSession()
      for (i <- 0 until Stage.MaxArmed)
        scoped(sess.range(3).withColumn("c", col("id") + s * 100 + i), sess)(
          _.filter(col("c") > 1))
    }
    assert(first.storageLevel === StorageLevel.NONE,
      "the process-wide backstop must evict the globally oldest scope")
  }

  test("released scopes leave the cap queue: MaxArmed COMPLETED scopes " +
    "must not evict the one still-live scope (r13 review regression)") {
    val (live, _) = scoped((1 to 10).toDF("x")) { s =>
      s.count()
      s.filter(col("x") > 1)
    }
    assert(live.storageLevel !== StorageLevel.NONE)
    // 2× the cap of scopes that each run to completion — their
    // listeners release and must VACATE their queue slots; if they
    // lingered, the arms alone would push the live scope out
    for (i <- 0 until Stage.MaxArmed * 2) {
      val (s, r) = scoped((1 to 3).toDF("c"))(_.filter(col("c") > i % 3))
      r.count() // terminal action → listener releases s
      assert(eventually()(s.storageLevel === StorageLevel.NONE))
    }
    assert(live.storageLevel !== StorageLevel.NONE,
      "completed scopes must not occupy eviction slots")
    assert(live.filter(col("x") > 1).count() === 9L)
    assert(eventually()(live.storageLevel === StorageLevel.NONE))
  }
}
