package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{CellId, LatLng}
import graft.functions.S2
import graft.ops.SpatialJoin
import graft.ops.SpatialJoin.CoveringIndex

/** Per-layer measurements of the traced run. */
object Layers {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Prefix peel of the headline pipeline over the workload's pages: each
    * prefix (scan; +parse; +cell id; +covering probe and refine; +output
    * columns) runs to the noop sink, warm once then median of three, and
    * each layer is its prefix minus the previous one. */
  def peel(spark: SparkSession, w: Workload, tracer: Tracer): Map[String, Double] = {
    val raw = () => spark.read.parquet(w.pagesPath)
    val parsed = () => w.pages(spark)
    val polys = graft.SparkEntry.cityPolygons
    val prefixes = Seq[(String, () => DataFrame)](
      "scan" -> (() => raw().select("text")),
      "parse" -> (() => parsed().select("lat", "lng")),
      "cellid" -> (() => parsed().select(S2.cellId(col("lat"), col("lng")).as("cell"))),
      "probe_refine" -> (() => SpatialJoin.pipJoin(spark, parsed(), polys).select("poly_id")),
      "output" -> (() => SpatialJoin.pipJoin(spark, parsed(), polys).select("url", "poly_id")))
    val walls = prefixes.map { case (name, mk) =>
      noop(mk())
      Stats.median(Seq.fill(3)(tracer.spanned(s"peel.$name", noop(mk()))._2))
    }
    val marginal = walls.zip(0.0 +: walls).map { case (a, b) => a - b }
    Map("sources.scan_s" -> marginal(0), "sources.parse_s" -> marginal(1),
      "functions.cellid_s" -> marginal(2), "ops.probe_refine_s" -> marginal(3),
      "ops.output_s" -> marginal(4))
  }

  /** Single-thread kernel timings on up to 100k of the workload's own points
    * against its own covering index: cell id encode, index probe and exact
    * refine of boundary candidates (median of five passes), plus the
    * probe's counts. */
  def kernels(spark: SparkSession, w: Workload, tracer: Tracer): Map[String, Double] = {
    val pts = w.pages(spark).select("lat", "lng").limit(100000).collect()
    val lat = pts.map(_.getDouble(0))
    val lng = pts.map(_.getDouble(1))
    val n = pts.length
    val (cov, covS, _) = tracer.spanned("core.covering", w.coverings(spark))
    val t0 = System.nanoTime()
    val index = CoveringIndex.build(cov)
    val buildS = (System.nanoTime() - t0) / 1e9
    val loops = w.polygons.toMap

    val leaves = Array.tabulate(n)(i => CellId.fromLatLngDegrees(lat(i), lng(i)))
    val cands = leaves.map(index.candidates)
    // boundary candidates, region-deduplicated as the engine's probe does
    val refines: Array[(Long, Int)] = (0 until n).flatMap { i =>
      val interior = cands(i).filter(c => (c & 1L) == 1L).map(_ >> 1).toSet
      cands(i).map(_ >> 1).distinct.filterNot(interior).map(rid => (rid, i))
    }.toArray
    var sink = 0L
    def timed(body: => Unit): Double = {
      val t = System.nanoTime(); body; (System.nanoTime() - t).toDouble
    }
    val samples = (0 until 5).map { _ =>
      val enc = timed { var i = 0; while (i < n) { leaves(i) = CellId.fromLatLngDegrees(lat(i), lng(i)); i += 1 } }
      val probe = timed { var i = 0; while (i < n) { cands(i) = index.candidates(leaves(i)); i += 1 } }
      var hits = 0
      val refine = timed {
        refines.foreach { case (rid, i) =>
          if (loops(rid).containsPoint(LatLng.toPointDegrees(lat(i), lng(i)))) hits += 1
        }
      }
      sink += leaves.sum + hits
      (enc / n, probe / n, if (refines.isEmpty) 0.0 else refine / refines.length, hits)
    }
    val total = cands.map(_.length.toLong).sum
    val interior = cands.map(_.count(c => (c & 1L) == 1L).toLong).sum
    val hits = samples.head._4
    tracer.spans += Map("span" -> "kernels", "points" -> n, "checksum" -> sink)
    Map("core.cellid_ns" -> Stats.median(samples.map(_._1)),
      "ops.probe_ns" -> Stats.median(samples.map(_._2)),
      "core.refine_ns" -> Stats.median(samples.map(_._3)),
      "ops.candidates_per_row" -> total.toDouble / n,
      "ops.interior_frac" -> (if (total == 0) 0.0 else interior.toDouble / total),
      "ops.refines_per_row" -> refines.length.toDouble / n,
      "ops.refine_hit_frac" -> (if (refines.isEmpty) 0.0 else hits.toDouble / refines.length),
      "core.covering_s" -> covS,
      "core.cells_per_polygon" -> cov.map(_._2.size.toDouble).sum / cov.size,
      "ops.index_build_s" -> (covS + buildS))
  }
}
