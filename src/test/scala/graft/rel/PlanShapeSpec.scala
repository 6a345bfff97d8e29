package graft.rel

import graft.SparkTestBase

/** Plan-shape assertions for the properties that matter at 100 TB —
  * locked in as tests so a refactor can't silently regress them:
  * filter pushdown reaching the parquet scan, column pruning, map-side
  * partial aggregation, top-k without a global sort, and broadcast-only
  * join plans where the corpus must not shuffle. */
class PlanShapeSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String = {
    graft.SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
  }

  private def ready = java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/lineitem.parquet"))

  test("q02: predicates reach the parquet scan as PushedFilters; schema is pruned") {
    assume(ready)
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [") && p.contains("In(l_returnflag"), p)
    // projection prunes: the scan must not read l_suppkey/l_partkey
    assert(p.contains("ReadSchema") && !p.contains("l_suppkey"), p)
  }

  test("q01: aggregation is partial+final (map-side combine before the shuffle)") {
    assume(ready)
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Exchange hashpartitioning"), p)
  }

  test("q178: unpivot is a map-side Expand and round-trips q29's pivot to the conditional-aggregation long form") {
    assume(ready)
    val p = plan("q178_unpivot")
    // melt must be Expand (k rows per input, no state); every hash
    // exchange in the plan belongs to the pivot aggregate BELOW the
    // Expand (Spark's pivot is a two-phase aggregate, so there are
    // exactly two) — unpivot itself never shuffles, so the Expand sits
    // strictly above the first hash exchange in the top-down plan text
    assert(p.contains("Expand"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert(p.indexOf("Expand") < p.indexOf("Exchange hashpartitioning"), p)
    // reshape round-trip: pivot-then-unpivot equals computing the long
    // form directly by conditional aggregation (zero-filled)
    val got = graft.SparkEntry.queries("q178_unpivot")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderpriority", "o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getString(1), BigDecimal(r.getDouble(2)).setScale(2)))
    val expected = orders.map(_._1).distinct.sorted.flatMap { prio =>
      Seq("F", "O", "P").map { st =>
        val sum = orders.filter(o => o._1 == prio && o._2 == st).map(_._3).sum
        (prio, s"spend_${st.toLowerCase}", sum.toDouble)
      }
    }.toSeq
    assert(got.toSeq == expected,
      s"first diff: ${got.zip(expected).find(pr => pr._1 != pr._2)}")
  }

  test("q12: top-k runs as TakeOrderedAndProject, not a global sort") {
    assume(ready)
    val p = plan("q12_sort_limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q50: brute-force ANN never shuffles the corpus (broadcast + TakeOrdered only)") {
    assume(ready)
    val p = plan("q50_sim_topk_bruteforce")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q68: tf joins the df aggregate by broadcast, never shuffling on the skewed term key") {
    assume(ready)
    val p = plan("q68_tfidf_topterms")
    // df joins by BroadcastHashJoin (the corpus-size scalar rides a
    // 1-row BroadcastNestedLoopJoin); the only hash exchanges are the
    // tf/df aggregations and the per-doc window — no shuffled join
    // keyed on `term`, where "the" would pile onto one reducer at scale
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q63: the interval join is an equi-join on user_id, never a nested loop") {
    assume(ready)
    val p = plan("q63_stream_interval_join")
    // the time bound must ride the user_id equi-join as a filter; a
    // BroadcastNestedLoopJoin here means the equi-key was lost and the
    // join is O(clicks x purchases) at scale
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q76: per-stratum top-N pre-limits map-side (WindowGroupLimit before the shuffle)") {
    assume(ready)
    val p = plan("q76_stratified_sample")
    // without this, a giant stratum lands whole on one reducer
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q105: the per-lang threshold joins back by broadcast, never shuffling the scored corpus") {
    assume(ready)
    val p = plan("q105_quality_quantile")
    // the 5-row threshold aggregate must be the broadcast side; a
    // sort-merge join here would shuffle every scored doc on the
    // 5-value lang key — the dominant-language reducer at 100 TB
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    graft.core.ScratchCache.drain()
  }

  test("q109: no window partitions the orders frame by the 3-value status key alone") {
    assume(ready)
    val p = plan("q109_window_distribution")
    val windows = p.linesIterator.filter(_.contains("Window [")).toList
    assert(windows.nonEmpty, p)
    // the modal-key shape this decomposition kills: ntile/percent_rank
    // over PARTITION BY o_orderstatus sorts ⅓ of orders in one task
    assert(!windows.exists(_.matches(".*\\], \\[o_orderstatus#[0-9]+\\], \\[.*")),
      s"window partitioned by o_orderstatus alone:\n${windows.mkString("\n")}")
    assert(windows.exists(w => w.contains("o_orderstatus") && w.contains("ps_shard")),
      s"within-bucket window must partition by (status, price bucket):\n${windows.mkString("\n")}")
    graft.core.ScratchCache.drain()
  }

  test("q110: the per-lang rank never partitions the corpus by lang alone (quota defeats WindowGroupLimit)") {
    assume(ready)
    val p = plan("q110_temperature_mixture")
    val windows = p.linesIterator.filter(_.contains("Window [")).toList
    // corpus-frame windows must carry ps_shard next to lang; windows
    // over the per-language quota frame (|langs| rows) are exempt —
    // they partition by nothing or by ps_k, never by a bare lang#N
    assert(!windows.exists(_.matches(".*\\], \\[lang#[0-9]+\\], \\[.*")),
      s"window partitioned by the ~5-value lang key alone:\n${windows.mkString("\n")}")
    assert(windows.exists(w => w.contains("lang") && w.contains("ps_shard")),
      s"keyedRank's (lang, ps_shard) window missing:\n${windows.mkString("\n")}")
    graft.core.ScratchCache.drain()
  }

  test("q54: IVF training lineage stays truncated (bounded corpus scans in the plan)") {
    assume(ready)
    val p = plan("q54_sim_ivf")
    // the unrolled k-means rounds once re-derived their full lineage
    // per branch (13 parquet scans = 13 corpus passes at scale); the
    // trained centroids now reach the plan as literals, so the final
    // plan holds only the assignment's scans regardless of KMeansIters
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 6, s"$scans corpus scans in q54's plan — training lineage leaked:\n$p")
    graft.core.ScratchCache.drain()
  }

  test("IVF family: cell assignment is map-only — no per-vector window, no cache in the plan") {
    assume(ready)
    val ivf = Seq("q54_sim_ivf", "q78_sim_ivf_nprobe", "q90_semdedup", "q99_doc_clusters",
      "q219_ivf_balance", "q223_probe_cost_curve")
    // q90 (cell cap), q99 (label rank) and q223 (cumulative cost) keep
    // windows of their own over cell- or rank-keyed rows; none may
    // partition by vec_id, which is what the row_number argmax did
    val windowFree = Set("q54_sim_ivf", "q78_sim_ivf_nprobe", "q219_ivf_balance")
    ivf.foreach { q =>
      val p = plan(q)
      val windows = p.linesIterator.filter(_.contains("Window [")).toList
      assert(!windows.exists(_.matches(".*\\], \\[vec_id#[0-9]+L?\\], \\[.*")),
        s"$q ranks cells with a per-vector window:\n${windows.mkString("\n")}")
      if (windowFree(q)) assert(windows.isEmpty, s"$q has a window:\n$p")
      assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"), s"$q reads a cache:\n$p")
      graft.core.ScratchCache.drain()
    }
  }

  test("q235: ONE user-keyed exchange feeds both attribution windows (no re-shuffle)") {
    assume(ready)
    val p = plan("q235_attribution_ledger")
    // min-enc and max-enc windows must ride the SAME user partitioning:
    // exactly one hash exchange on user_id before the windows (the
    // second Exchange in the plan is the output rangepartitioning sort)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert("Window ".r.findAllIn(p).size + "Window\\b".r.findAllIn(p).size >= 2, p)
  }

  test("q236: small fleets dispatch to a probe-side broadcast; corpus never shuffles for the join; top-k is group-limited map-side") {
    assume(ready)
    // at sf0.001 the fleet (×(planes+1) probes) is far below
    // XmBroadcastMaxProbeRows, so the AUTO dispatch must pick broadcast
    val p = plan("q236_crossmodal_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    // WindowGroupLimit appears twice: the partial (pre-exchange,
    // map-side top-k pushdown over candidates) and the final — the
    // property that keeps per-query work candidate-bounded at scale
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
    graft.core.ScratchCache.drain()
  }

  test("q236: above the probe-row cap the dispatch is a salted shuffled hash join — no broadcast that grows with the corpus, no sort") {
    assume(ready)
    val p = graft.sim.SimilarityQueries
      .q236Plan(spark, dir, forcePath = Some("shuffle"))
      .queryExecution.executedPlan.toString
    // probes build the per-partition hash table; corpus streams
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p)
    // the map-side top-k pushdown must survive the dispatch
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
    graft.core.ScratchCache.drain()
  }

  test("q238: the approximate ANALYZE never Expands and stays one partial+final pass") {
    assume(ready)
    val p = plan("q238_column_stats_approx")
    assert(!p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }
}
