package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** `cellRelation` against an independent oracle: the all-edges boundary
  * scan and brute-force point containment that `Loop.intersectsCell` /
  * `containsCell` used before the fused relation, kept here as test code.
  * The cells are every cell the RegionCoverer visits for the loop (both
  * coverings) plus their children.
  */
class CellRelationSpec extends AnyFunSuite {
  import S2Region.{Contains, Disjoint, Intersects}

  private def oracleContainsPoint(l: Loop, p: Vec3): Boolean =
    l.bound.containsPoint(p) && l.bruteForceContainsPoint(p)

  /** A loop vertex in the closed cell, or a loop edge crossing a cell edge. */
  private def oracleBoundary(l: Loop, cell: Cell): Boolean = {
    if (l.isEmptyOrFull) return false
    val n = l.numVertices
    if ((0 until n).exists(i => cell.containsPoint(l.vertex(i)))) return true
    val cv = Array.tabulate(4)(cell.vertex)
    (0 until n).exists { e =>
      val crosser = new EdgeCrosser(l.vertex(e), l.vertex(e + 1))
      (0 until 4).exists(k => crosser.edgeOrVertexCrossingTo(cv(k), cv((k + 1) & 3)))
    }
  }

  private def oracleIntersects(l: Loop, cell: Cell): Boolean =
    if (l.isEmpty) false
    else if (l.isFull) true
    else l.bound.intersects(cell.rectBound) &&
      (oracleBoundary(l, cell) || oracleContainsPoint(l, cell.vertex(0)))

  private def oracleContains(l: Loop, cell: Cell): Boolean =
    l.bound.containsPoint(cell.center) && !oracleBoundary(l, cell) &&
      oracleContainsPoint(l, cell.vertex(0))

  private def oracleRelation(l: Loop, cell: Cell): Int =
    if (!oracleIntersects(l, cell)) Disjoint
    else if (oracleContains(l, cell)) Contains
    else Intersects

  /** The polygon composition over the oracle loop relations. */
  private def oraclePolygonRelation(p: Polygon, cell: Cell): Int = {
    val corner = p.containsPoint(cell.vertex(0))
    val intersects = p.loops.exists(oracleIntersects(_, cell)) || corner
    val contains = p.bound.containsPoint(cell.center) &&
      p.loops.forall(l => oracleContains(l, cell) || !oracleIntersects(l, cell)) && corner
    if (!intersects) Disjoint else if (contains) Contains else Intersects
  }

  /** Records every cell the coverer asks about. */
  private final class Recording(r: S2Region) extends S2Region {
    val seen = mutable.LinkedHashSet[Long]()
    def capBound: Cap = r.capBound
    def rectBound: SphereRect = r.rectBound
    def containsCell(cell: Cell): Boolean = { seen += cell.id; r.containsCell(cell) }
    def intersectsCell(cell: Cell): Boolean = { seen += cell.id; r.intersectsCell(cell) }
    override def cellRelation(cell: Cell): Int = { seen += cell.id; r.cellRelation(cell) }
    def containsPoint(p: Vec3): Boolean = r.containsPoint(p)
    def cellUnionBound: Array[Long] = r.cellUnionBound
  }

  /** Visited cells and their children for both coverings of the region. */
  private def visitedCells(r: S2Region, maxCells: Int): Seq[Cell] = {
    val rec = new Recording(r)
    val rc = RegionCoverer(maxCells = maxCells)
    rc.covering(rec)
    rc.interiorCovering(rec)
    val ids = rec.seen.toSeq.flatMap { id =>
      id +: (if (CellId.isLeaf(id)) Seq.empty else CellId.children(id).toSeq)
    }
    ids.distinct.map(Cell.fromId)
  }

  /** Checks every visited cell; returns how many cells had each relation. */
  private def checkRegion(r: S2Region, oracle: Cell => Int, maxCells: Int,
                          name: String): Map[Int, Int] = {
    val cells = visitedCells(r, maxCells)
    assert(cells.nonEmpty, name)
    for (cell <- cells) {
      val rel = r.cellRelation(cell)
      val tag = s"$name cell ${CellId.toToken(cell.id)}"
      assert(rel === oracle(cell), tag)
      assert(r.intersectsCell(cell) === (rel != Disjoint), tag)
      assert(r.containsCell(cell) === (rel == Contains), tag)
    }
    cells.groupBy(r.cellRelation).map { case (k, v) => k -> v.size }
  }

  private def checkLoop(l: Loop, name: String, maxCells: Int = 8): Map[Int, Int] =
    checkRegion(l, oracleRelation(l, _), maxCells, name)

  test("cellRelation equals the all-edges oracle on 200 tenKPolys") {
    var total = Map.empty[Int, Int].withDefaultValue(0)
    for ((id, l) <- graft.SparkEntry.tenKPolys.take(200)) {
      for ((k, n) <- checkLoop(l, s"tenKPolys($id)")) total = total.updated(k, total(k) + n)
    }
    // the checked cells cover all three answers
    assert(total(Disjoint) > 0 && total(Intersects) > 0 && total(Contains) > 0)
  }

  test("cellRelation equals the oracle on adversarial loops") {
    def ll(lat: Double, lng: Double) = LatLng.toPointDegrees(lat, lng)
    val km = Earth.angleFromMeters(1000)
    // a level-10 cell whose corners are exactly a loop's vertices
    val cell10 = Cell.fromId(CellId.parent(CellId.fromLatLngDegrees(47.3, 8.5), 10))
    val corners = Loop.fromPoints(Array.tabulate(4)(cell10.vertex))
    // shares the bottom edge of a level-12 cell, apex at its center
    val cell12 = Cell.fromId(CellId.parent(CellId.fromLatLngDegrees(-12.1, 130.4), 12))
    val alongEdge = Loop.fromPoints(Array(cell12.vertex(0), cell12.vertex(1), cell12.center))
    val sliver = Loop.fromPoints(Array(ll(10, 10), ll(10.000001, 11), ll(10, 12))).normalized
    val cw = Loop.regularLoop(ll(35.7, 139.7), 40 * km, 12).inverted
    assert(cw.area > 2 * math.Pi)
    val loops = Seq(
      "face edge" -> Loop.regularLoop(ll(0, 45), 60 * km, 12),
      "cube corner" -> Loop.regularLoop(ll(35.26439, 45), 80 * km, 9),
      "pole" -> Loop.regularLoop(ll(90, 0), 500 * km, 10),
      "clockwise" -> cw,
      "cell corners" -> corners,
      "edge along a cell edge" -> alongEdge,
      "sliver" -> sliver,
      "indexed 64-gon" -> graft.SparkEntry.cityPolygons.head._2)
    assert(loops.forall(_._2.validate().isEmpty))
    for ((name, l) <- loops) {
      checkLoop(l, name)
      checkLoop(l, name, maxCells = 32)
    }
    // the clockwise loop contains cells far from its hole
    assert(cw.cellRelation(Cell.fromId(CellId.fromFace(0))) === Contains)
  }

  test("Polygon cellRelation composes its loops like the oracle") {
    val c = LatLng.toPointDegrees(51.5, -0.12)
    val holed = Polygon.fromLoops(Seq(
      Loop.regularLoop(c, Earth.angleFromMeters(20000), 16),
      Loop.regularLoop(LatLng.toPointDegrees(51.52, -0.1), Earth.angleFromMeters(6000), 7)))
    val counts = checkRegion(holed, oraclePolygonRelation(holed, _), 16, "holed")
    assert(counts.getOrElse(Contains, 0) > 0)
  }
}
