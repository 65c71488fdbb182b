package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{CellUnion, Earth, LatLng, Loop, Metric}
import graft.functions.{LatLngStatics, S2}
import graft.ops.{ShuffleSpatialJoin, SpatialJoin}
import graft.sources.PagesSource

/** One benchmark workload: seeded inputs, the timed query, the columns its
  * order-independent digest covers, and a brute-force check of a seeded
  * sample of its output.
  */
abstract class Workload(val seed: Long) {
  def name: String
  /** Seeded page rows the timed query reads. */
  def pageRows: Long
  /** The index polygons the kernel timings probe. */
  def polygons: Seq[(Long, Loop)]
  /** Covering call the workload's query makes, timed as `core.covering_s`. */
  def coverings(spark: SparkSession): Seq[(Long, CellUnion, CellUnion)]
  /** Input sizes, for the artifact. */
  def sizes: Map[String, Any]

  var pagesPath: String = _

  def pages(spark: SparkSession): DataFrame =
    PagesSource.withLatLng(spark.read.parquet(pagesPath))

  /** The timed query; every column it returns goes to the noop sink. */
  def query(spark: SparkSession): DataFrame
  def digestCols: Seq[Column]

  /** Seeded sample of output rows whose digest columns the first pass
    * collects in-line (as an observation) for the brute-force check. */
  def inSample: Column
  /** The sample's expected digest-column tuples, computed by brute force
    * without the engine's index or join paths. */
  def expectedSample(spark: SparkSession): Set[Seq[Any]]

  /** Workload-specific per-layer metrics for the traced run. */
  def layerMetrics(spark: SparkSession, tracer: Tracer): Map[String, Double] = Map.empty
}

object Workload {
  val names = Seq("pip_broadcast", "pip_shuffle_5k", "knn_rings")

  def apply(name: String, seed: Long): Workload = name match {
    case "pip_broadcast"   => new PipBroadcast(seed)
    case "pip_shuffle_5k"  => new PipShuffle(seed)
    case "knn_rings"       => new KnnRings(seed)
    case other => sys.error(s"unknown workload $other; expected one of ${names.mkString(", ")}")
  }
}

/** Shared point-in-polygon check: brute-force `Loop.bruteForceContainsPoint`
  * over every polygon (behind a cap-bound reject) for the sampled pages. */
abstract class PipWorkload(seed: Long) extends Workload(seed) {
  protected val sampleMod = 2000L
  def inSample: Column = pmod(xxhash64(col("url"), lit(seed)), lit(sampleMod)) === 0

  def digestCols: Seq[Column] = Seq(col("url"), col("poly_id"))

  def expectedSample(spark: SparkSession): Set[Seq[Any]] = {
    val bounds = polygons.map { case (id, l) => (id, l, l.capBound) }
    pages(spark).filter(inSample).select("url", "lat", "lng").collect().flatMap { r =>
      val p = LatLng.toPointDegrees(r.getDouble(1), r.getDouble(2))
      bounds.collect {
        case (id, l, cap) if cap.containsPoint(p) && l.bruteForceContainsPoint(p) =>
          Seq(r.getString(0), id)
      }
    }.toSet
  }
}

/** The headline: pages scan, geotag parse, cell id, broadcast covering
  * probe and exact refine against the 8 city polygons. */
final class PipBroadcast(seed: Long) extends PipWorkload(seed) {
  val name = "pip_broadcast"
  val pageRows = 1500000L
  lazy val polygons: Seq[(Long, Loop)] = graft.SparkEntry.cityPolygons
  def sizes = Map("pages" -> pageRows, "polygons" -> polygons.size)
  def coverings(spark: SparkSession) = SpatialJoin.polygonCoverings(polygons)

  def query(spark: SparkSession): DataFrame =
    SpatialJoin.pipJoin(spark, pages(spark), polygons).select("url", "poly_id")
}

/** Shuffle path: executor-side coverings of 5k of `SparkEntry.tenKPolys`, the
  * level-k dimension table and the sort-merge geometry join, every
  * iteration. The polygons are fixed so that the join level, which
  * `chooseLevel` picks from the coverings, does not change with the seed.
  * Its traced run also measures the kNN ring layer on the same pages. */
final class PipShuffle(seed: Long) extends PipWorkload(seed) {
  val name = "pip_shuffle_5k"
  val pageRows = 150000L
  val maxDimRows = 500000L
  val maxCells = 8
  override protected val sampleMod = 250L
  lazy val polygons: Seq[(Long, Loop)] = graft.SparkEntry.tenKPolys.take(5000)
  def sizes = Map("pages" -> pageRows, "polygons" -> polygons.size,
    "max_cells" -> maxCells, "max_dim_rows" -> maxDimRows)
  def coverings(spark: SparkSession) =
    SpatialJoin.polygonCoveringsDistributed(spark, polygons, maxCells)

  def query(spark: SparkSession): DataFrame =
    ShuffleSpatialJoin.pipJoinLarge(spark, pages(spark), polygons,
      maxDimRows = maxDimRows, precomputed = Some(coverings(spark)))
      .select("url", "poly_id")

  override def layerMetrics(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    val cov = tracer.span("ops.shuffle.coverings")(coverings(spark))
    val level = ShuffleSpatialJoin.chooseLevel(cov.map(_._2), maxDimRows)
    val dim = ShuffleSpatialJoin.polygonDimTable(spark, polygons, level,
      precomputed = Some(cov))
    val dimRows = tracer.span("ops.shuffle.dim_rows")(dim.count())
    val pts = pages(spark).withColumn("cell_lk",
      S2.parent(S2.cellId(col("lat"), col("lng")), lit(level)))
    val pairs = tracer.span("ops.shuffle.candidate_pairs")(
      pts.join(dim.hint("merge"), "cell_lk").count())
    val knn = new KnnRings(seed)
    knn.pagesPath = pagesPath
    Map("ops.join_level" -> level.toDouble, "ops.dim_rows" -> dimRows.toDouble,
      "ops.candidate_pairs" -> pairs.toDouble) ++ knn.ringLayer(spark, tracer)
  }
}

/** kNN by cell rings: `s2_parent`/`neighbors` equi-join, DISK_ONLY ring
  * candidates, escalation counts and a window top-k. Runnable on its own;
  * the seeded benchmark measures its layer in pip_shuffle_5k's traced run. */
final class KnnRings(seed: Long) extends Workload(seed) {
  val name = "knn_rings"
  val pageRows = 40000L
  val k = 10
  val numQueries = 200
  val initialRadiusMeters = 100000.0
  lazy val queries: Seq[(Long, Double, Double)] = Fixtures.knnQueries(numQueries, seed)
  lazy val polygons: Seq[(Long, Loop)] = graft.SparkEntry.cityPolygons
  def sizes = Map("pages" -> pageRows, "queries" -> numQueries, "k" -> k,
    "initial_radius_m" -> initialRadiusMeters)
  def coverings(spark: SparkSession) = SpatialJoin.polygonCoverings(polygons)

  /** Leftover counts per ring and brute-force queries of the last call. */
  @volatile var lastStats: (Seq[Long], Long) = (Nil, 0L)

  private def queryDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    queries.toDF("query_id", "q_lat", "q_lng")
  }

  def query(spark: SparkSession): DataFrame = {
    val (topK, leftovers, brute) = SpatialJoin.knnJoinDFStats(spark,
      pages(spark).select("url", "lat", "lng"), queryDf(spark), k,
      initialRadiusMeters = initialRadiusMeters, tieBreakCol = "url")
    lastStats = (leftovers, brute)
    topK.select("query_id", "url", "knn_rank", "dist_rad")
  }

  def digestCols: Seq[Column] = Seq(col("query_id"), col("url"), col("knn_rank"))

  private lazy val sampleIds: Seq[Long] =
    new scala.util.Random(seed).shuffle(queries.map(_._1)).take(20)
  def inSample: Column = col("query_id").isin(sampleIds: _*)

  /** Brute-force top-k by (distance, url) over every page. */
  def expectedSample(spark: SparkSession): Set[Seq[Any]] = {
    val pts = pages(spark).select("url", "lat", "lng").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    queries.filter(q => sampleIds.contains(q._1)).flatMap { case (qid, qlat, qlng) =>
      pts.map { case (url, lat, lng) =>
        (LatLngStatics.distanceDegrees(qlat, qlng, lat, lng), url)
      }.sorted.take(k).zipWithIndex.map { case ((_, url), i) => Seq(qid, url, i + 1) }
    }.toSet
  }

  override def layerMetrics(spark: SparkSession, tracer: Tracer): Map[String, Double] =
    ringLayer(spark, tracer)

  /** The kNN ring layer on this workload's pages: a warm run, then one
    * traced run whose sampled output must match the brute-force top-k;
    * its throughput, DISK_ONLY bytes and escalation counts, and the ring-0
    * join's pair and in-radius counts. */
  def ringLayer(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    Main.iterate(spark, this, tracer, "ops.knn.warm", traced = true)
    val (run, got) = Main.runQuery(spark, this, tracer, "ops.knn.run", traced = true, sample = true)
    require(run.ok && got == expectedSample(spark),
      s"kNN ring layer: output failed its brute-force sample check ${run.error.getOrElse("")}")
    val (leftovers, brute) = lastStats
    val angle = Earth.angleFromMeters(initialRadiusMeters)
    val level = Metric.MinWidth.maxLevel(angle)
    val qCells = queryDf(spark)
      .withColumn("q_cell", S2.parent(S2.cellId(col("q_lat"), col("q_lng")), lit(level)))
      .withColumn("cell", explode(array_union(
        S2.neighbors(col("q_cell"), lit(level)), array(col("q_cell")))))
    val pCells = pages(spark).select("url", "lat", "lng")
      .withColumn("cell", S2.parent(S2.cellId(col("lat"), col("lng")), lit(level)))
    val pairs = pCells.join(qCells, "cell")
      .withColumn("d", S2.distance(col("q_lat"), col("q_lng"), col("lat"), col("lng")))
    val row = tracer.span("ops.knn.ring0_pairs")(pairs.agg(count(lit(1)),
      count(when(col("d") <= lit(angle), 1))).head())
    def left(i: Int) = leftovers.lift(i).getOrElse(0L).toDouble
    Map("queries_per_s" -> numQueries / run.wall,
      "ops.knn.persist_disk_mb" -> run.totals.mb(run.totals.persistDiskBytes),
      "ops.knn.ring_pairs" -> row.getLong(0).toDouble,
      "ops.knn.candidates_per_query" -> row.getLong(1).toDouble / numQueries,
      "ops.knn.leftover_r0" -> left(0), "ops.knn.leftover_r1" -> left(1),
      "ops.knn.leftover_r2" -> left(2), "ops.knn.brute_queries" -> brute.toDouble)
  }
}
