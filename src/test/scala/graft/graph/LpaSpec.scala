package graft.graph

import graft.SparkTestBase

/** Pins q202 synchronous label propagation against a full brute-force
  * JVM replay: the synthesized undirected graph, the simultaneous
  * (not in-place) label update, the (count desc, label asc) argmax
  * tie-break, and the isolated-node keep-own rule are recomputed in
  * plain Scala over sf0.001 and compared cell-for-cell. A sequential/
  * asynchronous update would diverge from this replay on the first
  * round — the replay IS the synchrony proof. */
class LpaSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def fixture = java.nio.file.Files.exists(
    java.nio.file.Paths.get(s"$dir/documents.parquet"))

  test("q202 communities equal the 4-round synchronous brute-force replay") {
    assume(fixture)
    val ids = graft.core.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val idSet = ids.toSet
    // synthesized links: i -> i/2, i/3, i%7 (self-links dropped), undirected
    val und = ids.flatMap { i =>
      Seq(i / 2, i / 3, i % 7).filter(d => d != i && idSet(d))
        .flatMap(d => Seq((i, d), (d, i)))
    }.distinct
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl: Map[Long, Long] = ids.map(i => i -> i).toMap
    for (_ <- 1 to 4) {
      val next = ids.map { v =>
        val votes = nbrs.getOrElse(v, Array.empty[Long]).map(lbl)
        if (votes.isEmpty) v -> lbl(v)
        else {
          val byLbl = votes.groupBy(identity).view.mapValues(_.length.toLong)
          v -> byLbl.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }.toMap
      lbl = next // simultaneous: every vote above read the OLD map
    }
    val expected = lbl.values.groupBy(identity).map { case (c, g) =>
      val members = lbl.collect { case (n, l) if l == c => n }
      c -> (g.size.toLong, members.min, members.max)
    }
    val got = GraphQueries.queries("q202_label_propagation")(spark, dir)
      .collect().map(r => r.getAs[Long]("community") ->
        (r.getAs[Long]("n_nodes"), r.getAs[Long]("min_node"), r.getAs[Long]("max_node")))
      .toMap
    assert(got == expected, s"LPA replay mismatch:\n got=$got\n exp=$expected")
    // the fixture must exercise real structure: labels coalesce (fewer
    // communities than nodes) without collapsing to one
    assert(got.size > 1 && got.size < ids.length)
    assert(got.values.map(_._1).sum == ids.length.toLong, "communities must tile the nodes")
  }

  test("q202 plan stays linear in rounds — labels referenced once per round") {
    assume(fixture)
    // the r15-advice regression this pins: a loop that references the
    // label frame twice per round (once in votes, once in the left
    // join) doubles the label subtree every round — 2^rounds copies of
    // the base scan in the analyzed plan (46 leaves at 4 rounds).
    // Rebuilding from the persisted node frame references labels once
    // per round: 3 leaves added per round over the 1-leaf seed.
    val df = GraphQueries.queries("q202_label_propagation")(spark, "/root/testdata/sf0.001")
    val leaves = df.queryExecution.analyzed.collectLeaves()
    assert(leaves.size <= 16,
      s"plan has ${leaves.size} leaves — label lineage no longer linear per round")
    graft.core.ScratchCache.drain()
  }

  test("q202: zero rounds fail loudly instead of returning one-round labels") {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val err = intercept[IllegalArgumentException](GraphQueries.lpaLabels(spark, dir, und, rounds = 0))
    assert(err.getMessage.contains("rounds = 0"), err.getMessage)
  }
}
