package graft.sim

import graft.SparkTestBase

/** Recall@10 of the approximate ANN paths against the brute-force
  * ground truth on the sf0.01 embeddings (500 × 64-dim, 20 query
  * vectors). The asserted floors are deliberately loose — they exist
  * to catch recall COLLAPSE (a bucketing bug, a sign flip in the
  * hyperplanes, a cell-assignment regression), not to certify a
  * particular operating point; the measured numbers are printed for
  * the round log so tuning PLANES / probe count / n_cells is an
  * informed decision, not a guess. */
class AnnRecallSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.01"
  private def ready = java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/embeddings.parquet"))
  private val N = 20 // query vectors
  private val K = 10

  test("multi-probe LSH dominates single-probe and clears the recall floor; IVF is non-degenerate") {
    assume(ready)
    val exact = SimilarityQueries.exactTopK(spark, dir, N, K).cache()
    val single = SimilarityQueries.recallAtK(exact, SimilarityQueries.lshTopK(spark, dir, N, K, multiProbe = false))
    val multi = SimilarityQueries.recallAtK(exact, SimilarityQueries.lshTopK(spark, dir, N, K, multiProbe = true))
    val multi4 = SimilarityQueries.recallAtK(exact, SimilarityQueries.lshTopK(spark, dir, N, K, multiProbe = true, tables = 4))
    val ivf = SimilarityQueries.recallAtK(exact, SimilarityQueries.ivfTopK(spark, dir, N, K))
    val ivf4 = SimilarityQueries.recallAtK(exact, SimilarityQueries.ivfTopK(spark, dir, N, K, nProbe = 4))
    info(f"recall@$K over $N queries: lsh-single=$single%.3f lsh-multi=$multi%.3f lsh-multi-4tables=$multi4%.3f ivf=$ivf%.3f ivf-nprobe4=$ivf4%.3f")
    println(f"[ann-recall] recall@$K over $N queries: lsh-single=$single%.3f lsh-multi=$multi%.3f lsh-multi-4tables=$multi4%.3f ivf=$ivf%.3f ivf-nprobe4=$ivf4%.3f")
    exact.unpersist()
    assert(multi >= single, f"multi-probe ($multi%.3f) must not lose to single-probe ($single%.3f)")
    assert(multi4 >= multi, f"4-table multi-probe ($multi4%.3f) must not lose to 1-table ($multi%.3f)")
    assert(multi4 >= 0.5, f"4-table multi-probe recall collapsed: $multi4%.3f < 0.5")
    assert(single > 0.0, f"single-probe recall is zero — bucketing is broken")
    assert(ivf > 0.0, f"IVF recall is zero — cell assignment is broken")
    assert(ivf4 >= ivf, f"nProbe=4 IVF ($ivf4%.3f) must not lose to nProbe=1 ($ivf%.3f)")
    assert(ivf4 >= 0.5, f"nProbe=4 IVF recall collapsed: $ivf4%.3f < 0.5")
  }

  test("trained IVF quantizer: unbiased recall >= seed baseline; cell sizes bounded") {
    assume(ready)
    // N must well exceed NCells: the first 16 vectors ARE the seed
    // centroids, so a small query set is dominated by queries sitting
    // at the exact center of a seed-Voronoi cell — a measurement
    // biased FOR the untrained baseline (with N=20, 16/20 queries are
    // seeds and the seed quantizer "wins" by 0.045; at N=100 the bias
    // washes out and the trained quantizer is ahead).
    val N2 = 100
    val exact = SimilarityQueries.exactTopK(spark, dir, N2, K).cache()
    def r(nProbe: Int, trained: Boolean) = SimilarityQueries.recallAtK(
      exact, SimilarityQueries.ivfTopK(spark, dir, N2, K, nProbe, trained))
    val (t1, t4) = (r(1, trained = true), r(4, trained = true))
    val (s1, s4) = (r(1, trained = false), r(4, trained = false))
    println(f"[ann-recall] unbiased recall@$K over $N2 queries: ivf trained=$t1%.3f seed=$s1%.3f; nprobe4 trained=$t4%.3f seed=$s4%.3f")
    exact.unpersist()
    assert(t1 >= s1, f"trained quantizer ($t1%.3f) must not lose to raw seeds ($s1%.3f) on an unbiased query set")
    assert(t4 >= s4 - 0.02, f"trained nProbe=4 ($t4%.3f) regressed vs seeds ($s4%.3f)")
    assert(t4 >= t1, f"nProbe=4 ($t4%.3f) must not lose to nProbe=1 ($t1%.3f)")

    // cell balance: the per-cell scan bound IS the point of a trained
    // coarse quantizer — no cell may dwarf the mean (skewed cells
    // degrade worst-case probe cost at 100 TB)
    val sizes = SimilarityQueries.ivfAssignmentForSpec(spark, dir)
      .groupBy(identity).values.map(_.length.toLong).toArray
    val (mx, avg) = (sizes.max, sizes.sum.toDouble / sizes.length)
    println(f"[ann-recall] trained cells: n=${sizes.length} max=$mx avg=$avg%.1f max/avg=${mx / avg}%.2f")
    assert(mx <= 2 * avg, f"cell imbalance: max $mx > 2x avg $avg%.1f")
    graft.core.ScratchCache.drain()
  }
}
