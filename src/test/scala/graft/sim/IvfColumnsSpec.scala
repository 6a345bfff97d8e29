package graft.sim

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bit-identity of the IVF family's driver-held training and map-only
  * assignment against the DataFrame formulation the DuckDB twins
  * replay (`row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC,
  * cent_id)` over a cross join with the centroid frame):
  *
  *  1. [[SimilarityQueries.trainedCents]] equals the cross-join /
  *     window / per-position group-by trainer, spelled out here, on
  *     every centroid coordinate — and the q239 store round-trips it;
  *  2. [[SimilarityQueries.withCell]] and [[SimilarityQueries.withRanks]]
  *     equal that window over the same centroids, row for row;
  *  3. the same holds on degenerate centroid sets (none, one) and on
  *     vectors whose cosines tie or are NaN/NULL.
  */
class IvfColumnsSpec extends SparkTestBase {

  private val dirs = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.001")
  private def fixture(d: String) = java.nio.file.Files.exists(
    java.nio.file.Paths.get(s"$d/embeddings.parquet"))

  /** The cross-join + window trainer the driver-held one replaced. */
  private def windowTrainer(e: DataFrame): Map[Long, Vector[Double]] = {
    graft.functions.GraftFunctions.register(spark)
    val quant = e.filter(col("norm") > 0)
      .select(col("vec_id"), col("v"),
        expr("transform(v, x -> CAST(floor(x / norm * 1000000D + 0.5D) AS BIGINT))").as("q"))
    val live = expr("aggregate(cv, 0D, (a, x) -> a + x * x) > 0D")
    var cents = quant.filter(col("vec_id") < SimilarityQueries.NCells)
      .select(col("vec_id").as("cent_id"), expr("transform(q, x -> CAST(x AS DOUBLE))").as("cv"))
      .localCheckpoint()
    for (_ <- 1 to SimilarityQueries.KMeansIters) {
      val w = Window.partitionBy(col("vec_id")).orderBy(col("cs").desc, col("cent_id"))
      cents = quant.crossJoin(broadcast(cents.filter(live)))
        .withColumn("cs", expr("cosine_similarity(v, cv)"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cent_id"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy(col("cent_id"), col("pos")).agg(sum(col("x")).as("sx"))
        .groupBy(col("cent_id"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, sx))), s -> CAST(s.sx AS DOUBLE))").as("cv"))
        .localCheckpoint()
    }
    centMap(cents.filter(live))
  }

  private def centMap(cents: DataFrame): Map[Long, Vector[Double]] =
    cents.select(col("cent_id").cast("long"), col("cv")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap

  /** (vec_id, rn, cent_id) of every (vector, centroid) pair, ranked by
    * the window over a cross join with the centroid frame. */
  private def windowRanks(e: DataFrame, cents: Seq[SimilarityQueries.Centroid]): Set[(Long, Int, Long)] = {
    graft.functions.GraftFunctions.register(spark)
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cs").desc, col("cent_id"))
    e.crossJoin(broadcast(SimilarityQueries.centsFrame(spark, cents)))
      .withColumn("cs", expr("cosine_similarity(v, cv)"))
      .withColumn("rn", row_number().over(w))
      .select(col("vec_id"), col("rn"), col("cent_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
  }

  private def mapOnly(e: DataFrame, cents: Seq[SimilarityQueries.Centroid]): (Set[(Long, Long)], Set[(Long, Int, Long)]) = (
    SimilarityQueries.withCell(e, cents).select(col("vec_id"), col("cent_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet,
    SimilarityQueries.withRanks(e, cents).select(col("vec_id"), col("rn"), col("cent_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)

  private def assertMatchesWindow(e: DataFrame, cents: Seq[SimilarityQueries.Centroid], what: String): Unit = {
    val expected = windowRanks(e, cents)
    val (cells, ranks) = mapOnly(e, cents)
    assert(ranks == expected, s"$what: rank column differs from the window: " +
      s"${(ranks -- expected).take(5)} vs ${(expected -- ranks).take(5)}")
    assert(cells == expected.collect { case (v, 1, c) => (v, c) }, s"$what: cell column differs from rn = 1")
  }

  test("driver-held trainer equals the window trainer bit for bit; the q239 store round-trips it") {
    dirs.filter(fixture).foreach { d =>
      val e = SimilarityQueries.withVec(spark, d)
      val got = SimilarityQueries.trainedCents(spark, e)
      assert(got.map(_._1) == got.map(_._1).distinct.sorted, s"$d: centroid ids must be unique and ordered")
      assert(got.map { case (id, cv) => id -> cv.toVector }.toMap == windowTrainer(e), s"$d: centroids drifted")
      val store = java.nio.file.Files.createTempDirectory("ivfcols").toString
      try {
        SimilarityQueries.writeIvfIndex(spark, d, store)
        val corpus = e.filter(not(expr(SimilarityQueries.q239CarveExpr)))
        assert(centMap(spark.read.parquet(s"$store/cents")) ==
          centMap(SimilarityQueries.trainedCentsOf(spark, corpus)), s"$d: store round-trip is not exact")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
    }
  }

  test("map-only cell and rank columns equal the row_number window over the same centroids") {
    dirs.filter(fixture).foreach { d =>
      val e = SimilarityQueries.withVec(spark, d)
      val cents = SimilarityQueries.trainedCents(spark, e)
      assert(cents.size > 1, s"$d: fixture must train several cells")
      assertMatchesWindow(e, cents, d)
      // the untrained seed quantizer (AnnRecallSpec's baseline) too
      assertMatchesWindow(e, SimilarityQueries.seedCents(e), s"$d seeds")
    }
  }

  test("no centroids, one centroid, tied and NaN/NULL cosines rank exactly like the window") {
    import spark.implicits._
    val e = Seq[(Long, Option[Seq[Double]])](
      (1L, Some(Seq(1.0, 0.0))), (2L, Some(Seq(0.0, 1.0))), (3L, Some(Seq(1.0, 1.0))),
      (4L, Some(Seq(0.0, 0.0))), (5L, Some(Seq(Double.NaN, 1.0))), (6L, None),
      (7L, Some(Seq(-1.0, 0.0))))
      .toDF("vec_id", "v")
    val cents: Seq[SimilarityQueries.Centroid] = Seq(
      (10L, Array(2.0, 0.0)), (3L, Array(0.0, 5.0)), (7L, Array(1.0, 0.0)), (4L, Array(-3.0, 0.0)))
    assertMatchesWindow(e, cents, "four centroids")
    assertMatchesWindow(e, cents.take(1), "one centroid")
    assertMatchesWindow(e, Seq.empty, "no centroids")
    val (cells, ranks) = mapOnly(e, Seq.empty)
    assert(cells.isEmpty && ranks.isEmpty)
    // vec 1 ties between the parallel centroids 10 and 7 → lowest id
    assert(mapOnly(e, cents)._1.contains((1L, 7L)))

    // trainer ties: seeds 0 and 1 point the same way, so every vector
    // near them ties between the two and must join the lower id
    val t = Seq[(Long, Seq[Double])]((0L, Seq(1.0, 0.0)), (1L, Seq(2.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(1.0, 1.0)), (20L, Seq(3.0, 0.1)), (21L, Seq(0.2, 4.0)), (22L, Seq(-1.0, -1.0)))
      .toDF("vec_id", "v").withColumn("norm", sqrt(expr("aggregate(v, 0D, (acc, x) -> acc + x * x)")))
    val trained = SimilarityQueries.trainedCents(spark, t)
    assert(trained.map { case (id, cv) => id -> cv.toVector }.toMap == windowTrainer(t))
    assert(!trained.exists(_._1 == 1L), "the higher-id twin seed must lose every tie")
  }
}
