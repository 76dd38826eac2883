package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.{col, size, split}

/** The plans we'd want at 100 TB, asserted — not just eyeballed:
  * pushdown reaches the scan, dimensions broadcast, top-k never global
  * sorts, aggregation is partial+final, scans are column-pruned.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: DataFrame): String = {
    val qe = df.queryExecution
    qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q1_agg: shipdate filter pushed to parquet; partial+final hash agg; pruned scan") {
    val f = formatted(queries.Relational.q1Agg(spark, sf0001))
    assert(f.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "filter must reach the parquet scan")
    assert("HashAggregate".r.findAllIn(f).size >= 2, "expect partial+final hash agg")
    assert(!f.contains("l_orderkey"), "unused columns must be pruned from the scan")
  }

  test("q6: all scan predicates pushed; single-stage scan + ungrouped agg") {
    val f = formatted(queries.Relational.q6Forecast(spark, sf0001))
    assert(f.contains("GreaterThanOrEqual(l_shipdate"), "shipdate lower bound pushed")
    assert(f.contains("LessThan(l_shipdate"), "shipdate upper bound pushed")
    assert(f.contains("GreaterThanOrEqual(l_discount"), "discount bounds pushed")
    assert(f.contains("LessThan(l_quantity"), "quantity bound pushed")
    assert(!f.contains("Exchange hashpartitioning"),
      "ungrouped agg needs only the final single-partition exchange")
  }

  test("q3/q5: dimension joins broadcast, no shuffle on the small side") {
    val f3 = planOf(queries.Relational.q3TopK(spark, sf0001))
    assert(f3.contains("BroadcastHashJoin"), "customer side must broadcast")
    val f5 = planOf(queries.Relational.q5Region(spark, sf0001))
    assert(f5.contains("BroadcastHashJoin"), "nation/region/customer must broadcast")
    assert(!f5.contains("CartesianProduct"))
  }

  test("top-k plans as TakeOrderedAndProject, never a global Sort+Limit") {
    for (q <- Seq(queries.Relational.topkOrders(spark, sf0001),
                  queries.Dashboard.recentEvents(spark, sf0001),
                  queries.Dashboard.topMovers(spark, sf0001))) {
      assert(planOf(q).contains("TakeOrderedAndProject"))
    }
  }

  test("dashboard scan prunes to the referenced columns only") {
    val f = formatted(queries.Dashboard.salesByHour(spark, sf0001))
    assert(f.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"))
    assert(!f.contains("props"), "props/user_id must not be read")
  }

  test("semi/anti joins plan as join, not subquery re-scan") {
    assert(planOf(queries.Relational.semiJoin(spark, sf0001)).contains("LeftSemi"))
    assert(planOf(queries.Relational.antiJoin(spark, sf0001)).contains("LeftAnti"))
  }

  test("similarity exact pair scan broadcasts the smaller side (BNLJ by design)") {
    val p = planOf(similarity.Similarity.embedNearDup(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "exact pair scan = broadcast nested loop (documented quadratic baseline)")
  }

  test("LSH ANN candidate generation is an equi-join (shuffle/broadcast hash), not a cross join") {
    val p = planOf(similarity.Similarity.annLsh(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "bucketed candidates must come from an equi-join")
    val mp = planOf(similarity.Similarity.annLshMultiProbe(spark, sf0001))
    assert(!mp.contains("BroadcastNestedLoopJoin") && !mp.contains("CartesianProduct"),
      "multi-probe expansion must stay on the query side of the same equi-join")
  }

  test("semantic_dedup_lsh contains no quadratic join anywhere in the pipeline") {
    // the whole point of the LSH variant: the pair stage is a bucket
    // equi-join, unlike semantic_dedup's declared-quadratic baseline.
    // Assert the PAIR stage's own plan — the CC loop checkpoints its
    // edge frame, so the final frame's plan wouldn't show a quadratic
    // join even if one existed upstream.
    val pairs = planOf(similarity.Similarity.lshNearDupPairs(spark, sf0001, 0.4))
    assert(!pairs.contains("BroadcastNestedLoopJoin") && !pairs.contains("CartesianProduct"),
      s"LSH pair stage must be an equi-join:\n$pairs")
    val p = planOf(similarity.Similarity.semanticDedupLsh(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // the IVF (k-means cell) pair stage — the paper-faithful scale
    // path. A BroadcastNestedLoopJoin IS expected here: the k-means
    // assignment crosses every vector with the nlist-row centroid MODEL
    // frame (linear in corpus × nlist, the trainCentroids shape). The
    // quadratic danger is the corpus-pair stage, which must be the
    // same-list equi-join — assert that key, and no CartesianProduct.
    val ivf = planOf(similarity.Similarity.ivfNearDupPairs(spark, sf0001, 0.4))
    assert(!ivf.contains("CartesianProduct"), s"no cartesian anywhere:\n$ivf")
    assert("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[list_id""".r
      .findFirstIn(ivf).isDefined,
      s"corpus pairs must come from the same-list equi-join:\n$ivf")
  }

  test("semantic_incremental probes the corpus through a bucket equi-join") {
    // batch × corpus must never be all-pairs: candidates come from the
    // (tbl, bucket) equi-join, the same key the streaming probe uses
    val p = planOf(similarity.Similarity.semanticIncremental(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"incremental probe must be an equi-join:\n$p")
    assert("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[(tbl|bucket)""".r
      .findFirstIn(p).isDefined,
      s"candidates must come from the bucket equi-join:\n$p")
  }

  test("serve_top_per_type runs the TopKPerKey exec node, not Sort+Window") {
    val p = planOf(serving.Serving.topPerTypeFeed(spark, sf0001))
    assert(p.contains("TopKPerKey"),
      s"the custom heap operator must plan the per-key top-3:\n$p")
    assert(!p.contains("Window"),
      s"no window (and its per-partition full sort) may remain:\n$p")
  }

  test("EventSink layout enables partition pruning: month predicate reads one partition") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("prune")
    val sales = (1 to 3).map(m => (s"e$m", s"2026-0$m-15 10:00:00"))
      .toDF("event_id", "event_time_s")
      .select(col("event_id"), col("event_time_s").cast("timestamp").as("event_time"),
        lit(1L).as("product_id"))
    graft.ingest.EventSink.append(sales, dir)
    val q = spark.read.parquet(dir).filter(col("event_month") === "202602")
    val f = formatted(q)
    assert(f.contains("PartitionFilters: [isnotnull(event_month"),
      s"month predicate must become a partition filter:\n$f")
    assert(q.count() === 1)
    // the equality predicate itself is in the partition filter set
    assert("""PartitionFilters: \[.*event_month#\d+ = 202602""".r
      .findFirstIn(q.queryExecution.executedPlan.toString).isDefined)
  }

  test("q19 disjunctive predicates still plan as a hash join, not nested-loop") {
    val p = planOf(queries.TpcH.q19Disjunctive(spark, sf0001))
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"),
      s"common l_partkey=p_partkey must be extracted as the equi-key:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q18 HAVING pre-aggregation runs below the semi join") {
    val p = planOf(queries.TpcH.q18LargeOrders(spark, sf0001))
    assert(p.contains("LeftSemi"), "the qualifying-key set must be a semi join")
    // the quantity pre-agg appears as its own hash agg pair feeding the join
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"per-order pre-agg + final agg must both be partial+final:\n$p")
  }

  test("bloom_semi_join probes the filter before the join") {
    val p = planOf(queries.Extended.bloomSemiJoin(spark, sf0001))
    assert(p.contains("might_contain"), s"Bloom probe must be in the plan:\n$p")
    assert(p.contains("LeftSemi"), "exact semi join must still run after the Bloom")
    val probeIdx = p.indexOf("might_contain")
    val joinIdx = p.indexOf("LeftSemi")
    assert(probeIdx > joinIdx,
      "probe filter must sit below (printed after) the semi join in the plan tree")
  }

  test("bloom_anti_join: history filtered in its scan, never under a shuffle join") {
    // no broadcast HINT on the matched keys since r9 (ADVICE r8: a
    // history-proportional match set must not collect through the
    // driver) — the sliver exits the distinct's shuffle, where AQE has
    // exact sizes, so the broadcast decision is a RUNTIME one: execute
    // and assert on the final adaptive plan
    val df = queries.Extended.bloomAntiJoin(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), s"expected an executed AQE plan:\n$p")
    assert(p.contains("might_contain"), s"Bloom filter must be in the plan:\n$p")
    // the Bloom of the PROBE's keys sits in history's scan stage (below
    // the distinct's exchange), so only the might-match sliver shuffles;
    // at this scale AQE measures the sliver tiny and converts the exact
    // anti join to broadcast — history never sits under a join-side sort
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"AQE must convert the exact anti join to broadcast at sliver size:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no join in the composition may shuffle-sort history:\n$p")
    val filterIdx = p.indexOf("might_contain")
    val antiIdx = p.indexOf("LeftAnti")
    assert(filterIdx > antiIdx,
      "the Bloom filter must sit below (printed after) the anti join in the plan tree")
  }

  test("corpus_diff: no exchange carries document text — digests only") {
    val df = graft.dedup.Dedup.corpusDiff(spark, sf0001)
    // AQE hides the tree behind AdaptiveSparkPlanExec — unwrap it
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "the keyed diff must shuffle (unbucketed input)")
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name.contains("text")),
        s"an exchange carries the document text: ${e.output.map(_.name)}")
    }
  }

  test("q2 prunes lineitem to qualifying parts before the cost aggregation") {
    val f = formatted(queries.TpcH.q2MinCost(spark, sf0001))
    assert(f.contains("EqualTo(p_type,STANDARD)") &&
      f.contains("LessThanOrEqual(p_size,10)"),
      s"part predicates must reach the part scan:\n$f")
    val p = planOf(queries.TpcH.q2MinCost(spark, sf0001))
    assert(p.contains("LeftSemi"), "lineitem must be semi-pruned to qualifying parts")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q9 pushes the part-name predicate and broadcasts every dimension") {
    val f = formatted(queries.TpcH.q9ProductProfit(spark, sf0001))
    assert(f.contains("StringContains(p_name,red)"),
      s"LIKE '%red%' must push to the part scan:\n$f")
    val p = planOf(queries.TpcH.q9ProductProfit(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), "part/supplier/nation must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q11 semi-prunes lineitem to NATION_1 suppliers; the total is a broadcast scalar") {
    val p = planOf(queries.TpcH.q11ImportantValue(spark, sf0001))
    assert(p.contains("LeftSemi"), "supplier restriction must be a semi join")
    assert(!p.contains("CartesianProduct"),
      "the one-row total must broadcast, never a cartesian product")
  }

  test("q16 plans NOT IN as a broadcast anti join under the distinct aggregation") {
    val p = planOf(queries.TpcH.q16SupplierCnt(spark, sf0001))
    assert(p.contains("LeftAnti"), "the exclusion set must be an anti join")
    assert(p.contains("BroadcastHashJoin"), "part and the exclusion set broadcast")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "COUNT(DISTINCT) must run partial+final")
  }

  test("q20 aggregates only over red-part lines; final supplier check is a semi join") {
    val p = planOf(queries.TpcH.q20PromoSupplier(spark, sf0001))
    assert("LeftSemi".r.findAllIn(p).size >= 2,
      s"both the part pre-prune and the supplier membership must be semi joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q21 decorrelates both EXISTS into one per-order aggregate, no self-joins") {
    val p = planOf(queries.TpcH.q21WaitingSupplier(spark, sf0001))
    assert(p.contains("LeftSemi"),
      "qualifying orders must come back as a semi join")
    // lineitem is scanned for the late lines and for the per-order
    // aggregate — the EXISTS/NOT-EXISTS pair must NOT add two more
    // self-join scans of it (the naive decorrelation's shape)
    val scans = "lineitem\\.parquet".r.findAllIn(p).size
    assert(scans <= 2, s"expected 2 lineitem scans, got $scans:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("asof_join plans with NO join operator at all (union + window trick)") {
    val p = planOf(queries.Extended.asofJoin(spark, sf0001))
    assert(!p.contains("Join"), s"the as-of must be a union + last-value window, not a join:\n$p")
    assert(p.contains("Window"), "the last-value window must be present")
  }

  test("corpus_shuffle never collapses to a single-partition window") {
    val p = planOf(text.TextAnalysis.corpusShuffle(spark, sf0001))
    // the final presentation sort is a range exchange; the RANK must
    // not be: positions come from the keyed bucket + offsets form
    // (value-deterministic placement — no pin, no single-task window)
    assert(!p.contains("Exchange SinglePartition"),
      s"global rank must use the keyed AssignIds bucket/offset form:\n$p")
    assert(p.contains("range_bucket"),
      s"placement must be the frozen-boundary binary search:\n$p")
    assert(!p.contains("Scan ExistingRDD"),
      s"the keyed path needs no checkpoint pin:\n$p")
  }

  test("dedup_incremental candidates come from the band equi-join, never all-pairs") {
    val p = planOf(dedup.Dedup.dedupIncremental(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"batch-vs-history candidates must be a band-key equi-join:\n$p")
  }

  // the collapse shape is a Window PARTITIONED BY exactly the stratum
  // axis — (source) or (source, quartile) — and ORDERED BY a corpus
  // key: one task per stratum, ~5 tasks for 100 TB. The keyed form's
  // windows are partitioned by (__b, source) — bucket-sized — and its
  // offsets window (partition [source], order [__b]) runs over the
  // model-sized counts frame, which is fine and expected. The order
  // alternation includes n_tokens so pack_best_fit's length-desc keyed
  // RANK is covered too (ADVICE r13: doc_id/chunk_idx alone would miss
  // a BFD degradation to a per-stratum window).
  private val collapsedStratumWindow =
    """\], \[source#\d+(, quartile#\d+L?)?\], \[(doc_id|chunk_idx|n_tokens)#""".r

  test("packing family under the fill gate, SMALL side: below the " +
    "per-stratum envelope the gate picks the plain window — proving " +
    "every registered caller wires a real byte estimate (VERDICT r13 #1)") {
    // sf0.001 is far below GroupRank.WindowMaxTotalBytes, so the
    // gated contiguousFill queries must now PLAN the window form (the
    // measured-3.8×-cheaper plan at this size); a caller that forgot
    // its estimate would silently fall back to keyed and fail here
    for ((name, q) <- Seq(
        "doc_packing" -> text.TextAnalysis.docPacking(spark, sf0001),
        "pack_by_length" -> text.TextAnalysis.packByLength(spark, sf0001),
        "pack_efficiency" -> text.TextAnalysis.packEfficiency(spark, sf0001),
        "corpus_build" -> text.TextAnalysis.corpusBuild(spark, sf0001))) {
      val p = planOf(q)
      assert(collapsedStratumWindow.findFirstIn(p).isDefined,
        s"$name under the envelope must take the gated window form:\n$p")
    }
  }

  test("packing family under the fill gate, LARGE side: an " +
    "above-envelope byte estimate plans the keyed bucket form " +
    "(VERDICT r11 #1 still holds at scale)") {
    val binned = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    // 100 TB-shaped estimate: the envelope is 64 MiB TOTAL (the gate
    // cannot lower-bound the stratum count, so total bytes is the
    // sound surrogate for worst-stratum bytes); 1 TiB is far above it
    val p = planOf(text.TextAnalysis.contiguousFill(binned, Seq("source"),
      col("doc_id"), col("doc_id"), col("n_tokens"), groupBound = 64,
      inputBytes = BigInt(1L) << 40))
    assert(collapsedStratumWindow.findFirstIn(p).isEmpty,
      s"above the envelope the fill must never window per stratum:\n$p")
    assert(p.contains("range_bucket"),
      s"above the envelope rows must place by the frozen-boundary " +
        s"binary search:\n$p")
    // and an UNTRUSTED estimate must take the safe side: with the −1
    // default the gate auto-derives off the input plan (r15), and a
    // join-lineage frame — whose size estimate is an inflated product —
    // must derive "unknown" and keep the keyed form
    val joined = binned.join(
      binned.select(col("doc_id"), col("n_tokens").as("nt2")), "doc_id")
      .select(col("doc_id"), col("source"), col("n_tokens"))
    val pDefault = planOf(text.TextAnalysis.contiguousFill(joined,
      Seq("source"), col("doc_id"), col("doc_id"), col("n_tokens"),
      groupBound = 64))
    assert(collapsedStratumWindow.findFirstIn(pDefault).isEmpty &&
      pDefault.contains("range_bucket"),
      s"an untrusted auto-derived estimate must mean the keyed form:\n$pDefault")
  }

  test("auto-derived gate estimate (r15): clean file-scan callers plan " +
    "the window arm with no hand-threaded estimate; quality_topq and " +
    "token_budget — the callers that used to fall keyed silently — " +
    "now take the cheap arm under the envelope") {
    for ((name, q, winOrder) <- Seq(
        ("quality_topq", text.TextAnalysis.qualityTopQ(spark, sf0001), "ttr"),
        ("token_budget", text.TextAnalysis.tokenBudget(spark, sf0001), "shuffle_key"),
        ("split_stratified", text.TextAnalysis.splitStratified(spark, sf0001), "shuffle_key"))) {
      val p = planOf(q)
      assert(!p.contains("range_bucket"),
        s"$name under the envelope must auto-derive and take the " +
          s"window arm, not the keyed bucket machinery:\n$p")
      assert(s"""\\], \\[(lang|source)#\\d+\\], \\[$winOrder#""".r
        .findFirstIn(p).isDefined,
        s"$name must plan the gated per-stratum window:\n$p")
    }
  }

  test("auto-derived gate estimate distrusts toy and junk lineage: " +
    "local frames and joins keep the keyed form under the −1 default") {
    import operators.GroupRank
    val local = Seq((1L, "a", 5L), (2L, "a", 3L), (3L, "b", 9L))
      .toDF("id", "g", "v")
    assert(GroupRank.autoInputBytes(local) == BigInt(-1),
      "a LocalRelation must not be trusted (the keyed specs rely on it)")
    val scan = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"), col("n_chars"))
    assert(GroupRank.autoInputBytes(scan) >= 0,
      "a projected parquet scan must be trusted")
    assert(GroupRank.autoInputBytes(
        scan.join(scan.select(col("doc_id"), col("n_chars").as("c2")),
          "doc_id")) == BigInt(-1),
      "join lineage must not be trusted")
    assert(GroupRank.autoInputBytes(scan.repartition(4)) == BigInt(-1),
      "repartition lineage must not be trusted")
    // a staged (persisted) clean scan stays trusted THROUGH the cache,
    // and derives the same bytes the caller used to hand-thread
    val est = scan.queryExecution.optimizedPlan.stats.sizeInBytes
    val auto = operators.Stage(spark)(st => GroupRank.autoInputBytes(st.stage(
      Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("source"), col("n_chars")))))
    assert(auto == est,
      s"staged clean scan must derive the pre-staging estimate " +
        s"($est), got $auto")
  }

  test("pack_best_fit / pack_tradeoff: the length-desc keyed rank " +
    "never degrades to a per-stratum window; the BFD fold stays a " +
    "bounded chunk aggregate") {
    // pack_best_fit has NO gated fill, so the full collapse law holds;
    // pack_tradeoff's contiguous side legitimately windows under the
    // gate at this size, so its law is the n_tokens-ordered shape only
    // (the BFD rank's own degradation — ADVICE r13)
    val bfdCollapse =
      """\], \[source#\d+(, quartile#\d+L?)?\], \[n_tokens#""".r
    val pBf = planOf(text.TextAnalysis.packBestFit(spark, sf0001))
    assert(collapsedStratumWindow.findFirstIn(pBf).isEmpty,
      s"pack_best_fit still runs a per-stratum corpus window:\n$pBf")
    assert(pBf.contains("range_bucket"),
      s"pack_best_fit must place rows by the frozen-boundary binary " +
        s"search:\n$pBf")
    val pTr = planOf(text.TextAnalysis.packTradeoff(spark, sf0001))
    assert(bfdCollapse.findFirstIn(pTr).isEmpty,
      s"pack_tradeoff's BFD rank degraded to a per-stratum window:\n$pTr")
    assert(pTr.contains("range_bucket"),
      s"pack_tradeoff must keep the keyed BFD rank:\n$pTr")
  }

  test("corpus_build and dedup_minhash never fall back to all-pairs joins") {
    for (q <- Seq(text.TextAnalysis.corpusBuild(spark, sf0001),
                  dedup.Dedup.minhashLsh(spark, sf0001))) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"every candidate-generation step must be an equi-join:\n$p")
    }
  }

  test("decontaminate: eval shingles broadcast into a map-side semi join") {
    val p = planOf(dedup.Dedup.decontaminate(spark, sf0001))
    assert("BroadcastHashJoin.*LeftSemi".r.findFirstIn(p).isDefined ||
      (p.contains("LeftSemi") && p.contains("BroadcastExchange")),
      s"the eval shingle set must broadcast; training shingles must not shuffle for the join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "no shuffle of the training shingle stream before the semi join")
  }

  test("customer_rfm: 1-row max-date side broadcasts, never a cartesian") {
    // without the broadcast hint the statless agg output can plan
    // CartesianProduct against the full orders table pre-AQE
    for (q <- Seq(queries.Extended.customerRfm(spark, sf0001),
                  queries.Extended.customerRfmApprox(spark, sf0001),
                  text.TextAnalysis.tfidfTopTerms(spark, sf0001))) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"),
        s"scalar cross join must broadcast the 1-row side:\n$p")
    }
  }

  test("profile_orders: per-column two-phase distinct, no Expand multiplier") {
    val p = planOf(queries.Extended.profileOrders(spark, sf0001))
    assert(!p.contains("Expand"),
      s"multi-countDistinct must not plan an Expand that replays the scan per column:\n$p")
  }

  test("corpus_mix: totals broadcast, keep test folded into the join, no cartesian") {
    val p = planOf(text.TextAnalysis.corpusMix(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"per-source totals must broadcast into a map-side keep filter:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "totals must aggregate partial+final")
  }

  test("session_windows plans the native MergingSessions operator, one key shuffle") {
    val p = planOf(queries.Relational.sessionWindows(spark, sf0001))
    assert(p.contains("MergingSessions"),
      s"the built-in session-window merge must run, not a generic window:\n$p")
    // one hash shuffle on the user key (plus the final presentation sort)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size === 1, p)
  }

  test("text_gopher / pii_scrub are pure scan projections: no hash shuffle at all") {
    for (df <- Seq(text.TextAnalysis.gopherGates(spark, sf0001),
                   text.TextAnalysis.piiScrub(spark, sf0001))) {
      val p = planOf(df)
      assert(!p.contains("Exchange hashpartitioning"),
        s"per-document scoring must not shuffle:\n$p")
      assert(!p.contains("Window"), s"no window operator expected:\n$p")
    }
  }

  test("embed_label_sim: centroid agg is partial+final; pairwise stage broadcasts") {
    val p = planOf(similarity.Similarity.embedLabelSim(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the model-sized pairwise join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"centroid mean must map-side combine (partial+final):\n$p")
  }

  test("dedup_survivor_quality: argmax inside the hash agg, no corpus-wide window") {
    val p = planOf(dedup.Dedup.survivorQuality(spark, sf0001))
    assert(!p.contains("Window"),
      s"survivor argmax must be an aggregate, not a ranked window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quantiles_sketch aggregates partial+final (the sketch rides the shuffle)") {
    val p = planOf(queries.Extended.quantilesSketch(spark, sf0001))
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(p).size >= 2,
      s"sketch must combine map-side before the group shuffle:\n$p")
    assert("Exchange hashpartitioning\\(o_orderstatus".r.findAllIn(p).size === 1,
      s"exactly one key shuffle:\n$p")
  }

  test("span_scrub / dedup_minhash_row / semantic_dedup stay equi-join shaped") {
    // the round-5 additions: every candidate/marking step must be an
    // equi-join — except semantic_dedup's pair stage, which is the
    // declared-quadratic exact baseline (its BNLJ is the documented
    // oracle role, so only CartesianProduct is banned there)
    for (q <- Seq(dedup.Dedup.spanScrub(spark, sf0001),
                  dedup.Dedup.minhashLshRow(spark, sf0001))) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"expected equi-joins only:\n$p")
    }
    val sd = planOf(similarity.Similarity.semanticDedup(spark, sf0001))
    assert(!sd.contains("CartesianProduct"), s"no unhinted cartesian:\n$sd")
  }

  test("nb_classify / dsir_select: model joins are equi-joins, totals broadcast") {
    val nb = planOf(text.TextAnalysis.nbClassify(spark, sf0001))
    assert(!nb.contains("CartesianProduct") && !nb.contains("BroadcastNestedLoopJoin"),
      s"token-model join must be an equi-join:\n$nb")
    val ds = planOf(text.TextAnalysis.dsirSelect(spark, sf0001))
    assert("BroadcastExchange".r.findAllIn(ds).size >= 2,
      s"both 1-row totals must broadcast:\n$ds")
    assert(!ds.contains("CartesianProduct"), s"no cartesian on the totals:\n$ds")
  }

  test("whole-stage codegen covers the hot aggregation path") {
    // AQE wraps the un-executed plan in AdaptiveSparkPlan, which hides the
    // codegen spans from explain; disable it just for this inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // codegen stages print as `*(n) Operator` in the plan tree
      val p = planOf(queries.Dashboard.salesByHour(spark, sf0001))
      assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(p).isDefined,
        s"hash agg must sit inside a WholeStageCodegen stage:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bytes partition policy (VERDICT r9 #3): initial shuffle count derives " +
    "from input footprint at the 64 MB target, floor-raised only") {
    import GraftSession.{shufflePartitionsForBytes, tuneShufflePartitions}
    // the pure formula: floor below 64 MB·floor, ceil(bytes/64 MB)
    // above, 2^20 cap
    assert(shufflePartitionsForBytes(0L) === 32)
    assert(shufflePartitionsForBytes(64L << 20) === 32)
    assert(shufflePartitionsForBytes((64L << 20) * 32 + 1) === 33)
    assert(shufflePartitionsForBytes(10L << 30) === 160)       // 10 GiB
    assert(shufflePartitionsForBytes(100L << 40) === 1 << 20)  // 100 TiB → cap
    assert(shufflePartitionsForBytes(1L << 30, floor = 64) === 64)
    // the session hook: derived from the dir's real bytes, never lowers
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val set = tuneShufflePartitions(spark, sf0001)
      // sf0.001 is ≪ 64 MB × 4 — identity at test scale by design
      assert(set === before.toInt)
      assert(spark.conf.get("spark.sql.shuffle.partitions").toInt === set)
      // a synthetic footprint through the formula: 1 GiB at floor 4 → 16
      assert(shufflePartitionsForBytes(1L << 30, floor = before.toInt) === 16)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("GroupRank/AssignIds (VERDICT r10 #1): range parallelism derives from " +
    "the session's bytes-tuned shuffle partitions, not a constant") {
    import graft.operators.{AssignIds, GroupRank}
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf0001)
    // the resolver: <= 0 → session conf (the value tuneShufflePartitions
    // manages), explicit stays explicit
    assert(AssignIds.sizedPartitions(docs, 5) === 5)
    assert(AssignIds.sizedPartitions(docs, 0) ===
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      assert(AssignIds.sizedPartitions(docs, 0) === 7)
      // end-to-end: every stage of the default path runs at the
      // session's count — the output inherits it (range exchange,
      // then the __pid-hash window shuffle), so a hardcoded constant
      // anywhere would surface here
      val ids = AssignIds.withContiguousIds(docs,
        Seq(col("source"), col("doc_id")))
      assert(ids.rdd.getNumPartitions === 7,
        s"range/rank stages must run at the session's 7 partitions")
      // and the default path ranks exactly like an explicit count
      val defRanks = GroupRank.withGroupRank(docs, Seq("source"),
          Seq(col("doc_id")), "rk")
        .select("doc_id", "rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expRanks = GroupRank.withGroupRank(docs, Seq("source"),
          Seq(col("doc_id")), "rk", partitions = 3)
        .select("doc_id", "rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(defRanks === expRanks)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("ann_mrl: prefix stage broadcasts the query frame; stage-2 " +
    "full-vector fetch is an equi-join, never a second corpus cross") {
    val p = planOf(similarity.Similarity.annMrl(spark, sf0001))
    // exactly ONE corpus-wide cross (the 10-query × corpus prefix
    // scan, a broadcast nested loop by design); the rerank fetch must
    // hash-join candidates back by neighbor_id
    assert(p.contains("BroadcastNestedLoopJoin"),
      "prefix scan = broadcast NLJ of the tiny query frame")
    assert(p.sliding("BroadcastNestedLoopJoin".length).count(
      _ == "BroadcastNestedLoopJoin") === 1,
      s"stage 2 must not rescan the corpus crosswise:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("source_overlap_kmv never shuffles on the shingle key (the sketch's point)") {
    val p = planOf(dedup.Dedup.sourceOverlapKmv(spark, sf0001))
    // the exact source_overlap joins the corpus-sized shingle stream
    // on `shingle`; the sketch form's pair algebra must read from the
    // checkpointed MODEL-SIZED summary (S rows of k longs — the one
    // corpus pass lives upstream of the checkpoint), with no
    // shingle-keyed exchange or join anywhere downstream
    assert(!"""hashpartitioning\(shingle#""".r.findFirstIn(p).isDefined,
      s"sketch overlap must not exchange on the shingle key:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"pair algebra must read the checkpointed model-sized summary:\n$p")
  }

  test("mine_bitext kNN cuts run through bounded heaps, windows only on survivors") {
    val p = planOf(similarity.Similarity.mineBitext(spark, sf0001))
    // every Window must sit ABOVE a TopKPerKey cut — a window directly
    // over the scored A×B frame is the one-task-per-key collapse the
    // margin tail exists to avoid
    assert(p.contains("TopKPerKeyPartial"),
      s"bounded-heap partial cut missing:\n$p")
    val winAt = "Window ".r.findAllMatchIn(p).map(_.start).toList
    val topkAt = "TopKPerKey".r.findAllMatchIn(p).map(_.start).toList
    assert(winAt.nonEmpty && topkAt.nonEmpty)
    // plan prints top-down: a Window printed BEFORE any TopKPerKey in
    // its subtree consumes a survivor frame; one printed after the
    // LAST TopKPerKey would be feeding it raw scored pairs
    assert(winAt.forall(w => topkAt.exists(t => t > w)),
      s"a window has no bounded-heap cut beneath it:\n$p")
  }

  test("sample_pps under the envelope takes the gated window form") {
    val p = planOf(text.TextAnalysis.samplePps(spark, sf0001))
    // sf0.001's narrow projection sits far below WindowMaxTotalBytes,
    // so the running sum must plan the plain per-source window (proves
    // the caller wired a real clean estimate); range_bucket appearing
    // here would mean the estimate was lost and the keyed form paid
    assert("""\], \[source#\d+\], \[mix#""".r.findFirstIn(p).isDefined,
      s"sample_pps under the envelope must take the gated window:\n$p")
    assert(!p.contains("range_bucket"),
      s"keyed bucket machinery must not plan under the envelope:\n$p")
  }
}
