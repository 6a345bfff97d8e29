package graft.sim

import graft.SparkTestBase

/** Pins q219's IVF balance audit: the cell counts must agree with the
  * SAME assignment q54/q78 serve queries from (the map-only
  * [[SimilarityQueries.withCell]] column over the trained centroids —
  * the audit audits the real index, not a lookalike), the masses must
  * tile the corpus, and the ppm/load arithmetic is floor-exact. */
class IvfBalanceSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def fixture = java.nio.file.Files.exists(
    java.nio.file.Paths.get(s"$dir/embeddings.parquet"))

  test("q219 counts the q54 assignment exactly; arithmetic is floor-exact") {
    assume(fixture)
    val got = SimilarityQueries.queries("q219_ivf_balance")(spark, dir).collect()
      .map(r => r.getAs[Long]("cell") -> (r.getAs[Long]("n_vecs"),
        r.getAs[Long]("share_ppm"), r.getAs[Long]("load_x1000"),
        r.getAs[Boolean]("is_dead"))).toMap
    graft.core.ScratchCache.drain()
    // the index the audit must match: q54's own cell assignment
    val asg = SimilarityQueries.ivfAssignmentForSpec(spark, dir)
    graft.core.ScratchCache.drain()
    val fromIndex = asg.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nAll = asg.length.toLong
    val nCells = got.size.toLong
    got.foreach { case (cell, (n, ppm, load, dead)) =>
      assert(n == fromIndex.getOrElse(cell, 0L), s"cell $cell count drifted from the q54 index")
      assert(ppm == n * 1000000L / nAll, s"cell $cell ppm not floor-exact")
      assert(load == n * nCells * 1000L / nAll, s"cell $cell load not floor-exact")
      assert(dead == (n == 0L))
    }
    // masses tile the corpus; every assigned cell appears
    assert(got.values.map(_._1).sum == nAll)
    assert(fromIndex.keySet.subsetOf(got.keySet),
      "audit must list every cell the index assigns to")
    // the trained quantizer on this fixture is non-degenerate: more
    // than one live cell, and no cell owns the whole corpus
    assert(got.count(!_._2._4) > 1)
    assert(got.values.map(_._1).max < nAll)
  }
}
