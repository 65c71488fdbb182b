package graft.core

/** Single closed vertex chain on the sphere; the interior is on the left of
  * the directed edges (CCW loops enclose small areas)
  * (/root/reference/s2/loop.go:27-162,590-628).
  *
  * Containment parity is counted from a fixed origin point, bootstrapped via
  * the wedge test at vertex 1 exactly like the reference (loop.go:125-162) so
  * results are bit-compatible. Point containment uses the brute-force
  * crossing count; at engine scale the covering join prunes candidates so
  * each refine call sees only boundary-cell points.
  */
final class Loop private (val vertices: Array[Vec3]) extends S2Region {
  import EdgeCrossings._

  /** Nesting depth within a polygon (0 = shell, odd = hole); assigned by
    * Polygon construction, like the reference's Loop.depth
    * (loop.go:88-95).
    */
  var depth: Int = 0

  def isHole: Boolean = (depth & 1) == 1

  /** +1 for shells, -1 for holes (loop.go:uses in area sums). */
  def sign: Int = if (isHole) -1 else 1

  /** Whether the fixed origin point is inside; part of the wire format. */
  val originInside: Boolean = computeOriginInside()

  /** Conservative lat/lng bound of the loop (loop.go:175-216). */
  val bound: SphereRect = computeBound()

  /** Bound that contains the bounds of all subregions. */
  val subregionBound: SphereRect = RectBounder.expandForSubregions(bound)

  def numVertices: Int = vertices.length

  /** Vertex with wraparound (vertex(n) == vertex(0)). */
  def vertex(i: Int): Vec3 = vertices(i % vertices.length)

  def isEmptyOrFull: Boolean = vertices.length == 1
  def isEmpty: Boolean = isEmptyOrFull && !originInside
  def isFull: Boolean = isEmptyOrFull && originInside

  private def computeOriginInside(): Boolean = {
    if (vertices.length < 3) {
      if (!isEmptyOrFull) return false
      return vertices(0).z < 0
    }
    val v1Inside = vertices(0) != vertices(1) && vertices(2) != vertices(1) &&
      angleContainsVertex(vertices(0), vertices(1), vertices(2))
    // Guess origin outside; flip if vertex-1 containment disagrees.
    val v1ContainedIfOutside = bruteForceContains(vertices(1), originIn = false)
    v1Inside != v1ContainedIfOutside
  }

  private def computeBound(): SphereRect = {
    if (isEmptyOrFull) {
      return if (isEmpty) SphereRect.empty else SphereRect.full
    }
    val bounder = new RectBounder
    var i = 0
    while (i <= vertices.length) { bounder.addPoint(vertex(i)); i += 1 }
    var b = bounder.rectBound
    if (bruteForceContains(Vec3(0, 0, 1), originInside)) {
      b = SphereRect(R1Interval(b.lat.lo, math.Pi / 2), S1Interval.full)
    }
    if (b.lng.isFull && bruteForceContains(Vec3(0, 0, -1), originInside)) {
      b = SphereRect(R1Interval(-math.Pi / 2, b.lat.hi), b.lng)
    }
    b
  }

  private def bruteForceContains(p: Vec3, originIn: Boolean): Boolean = {
    var inside = originIn
    val crosser = new EdgeCrosser(originPoint, p)
    crosser.restartAt(vertex(0))
    var i = 1
    while (i <= vertices.length) { // vertex 0 appended again at the end
      inside = inside != crosser.edgeOrVertexChainCrossing(vertex(i))
      i += 1
    }
    inside
  }

  /** Brute-force PIP (loop.go:590-598). */
  def bruteForceContainsPoint(p: Vec3): Boolean =
    bruteForceContains(p, originInside)

  /** Cell-bucketed edge index, built lazily for loops above the
    * reference's brute-force threshold (loop.go:615). None for small
    * loops where the O(V) scan is cheaper than an index probe.
    */
  @transient private lazy val builtIndex: Option[LoopEdgeIndex] =
    if (!isEmptyOrFull && vertices.length > LoopEdgeIndex.MaxBruteForceVertices)
      Some(LoopEdgeIndex.build(this))
    else None

  /** Exposed for tests/benchmarks: the index if this loop carries one. */
  def edgeIndexOption: Option[LoopEdgeIndex] = builtIndex

  /** Conservative candidate edge ids for a query segment (all edges for
    * small loops) — the pruning source for loop-relation crossing scans.
    */
  private[core] def candidateEdges(a: Vec3, b: Vec3): Array[Int] =
    builtIndex match {
      case Some(idx) => idx.candidateEdges(a, b)
      case None => Array.tabulate(vertices.length)(identity)
    }

  /** Public candidate-edge access for engine operators (crossing joins). */
  def candidateEdgesPublic(a: Vec3, b: Vec3): Array[Int] = candidateEdges(a, b)

  def containsPoint(p: Vec3): Boolean = {
    if (!bound.containsPoint(p)) return false
    builtIndex match {
      case Some(idx) => idx.containsPoint(p)
      case None => bruteForceContainsPoint(p)
    }
  }

  // ------------------------------------------------------------------
  // Loop x Loop relations (loop.go:272-369, 436-469, 951-980, 1822-1852)

  /** Whether this loop's region is a superset of the other loop's region
    * (loop.go:274-325): no boundary crossings, compatible wedges at
    * shared vertices, and the point-containment conditions that separate
    * nesting from the union-is-the-whole-sphere case.
    */
  def contains(o: Loop): Boolean = {
    if (!subregionBound.containsRect(o.bound)) return false
    if (isEmptyOrFull || o.isEmptyOrFull) return isFull || o.isEmpty
    val rel = new LoopRelations.ContainsRelation
    if (LoopRelations.hasCrossingRelation(this, o, rel)) return false
    if (rel.foundSharedVertex) return true
    if (!containsPoint(o.vertex(0))) return false
    // (A union B) == sphere means A contains B's boundary but not B.
    if ((o.subregionBound.containsRect(bound) || o.bound.union(bound).isFull) &&
        o.containsPoint(vertex(0))) return false
    true
  }

  /** Whether the two loop regions intersect (loop.go:330-369). */
  def intersects(o: Loop): Boolean = {
    if (!bound.intersects(o.bound)) return false
    val rel = new LoopRelations.IntersectsRelation
    if (LoopRelations.hasCrossingRelation(this, o, rel)) return true
    if (rel.foundSharedVertex) return false
    // No crossings / shared vertices: loops intersect only via nesting or
    // mutual boundary containment; neither loop is empty here.
    if (subregionBound.containsRect(o.bound) || bound.union(o.bound).isFull) {
      if (containsPoint(o.vertex(0))) return true
    }
    if (o.subregionBound.containsRect(bound) && o.containsPoint(vertex(0)))
      return true
    false
  }

  /** +1 if this loop contains the other's boundary, -1 if it excludes it,
    * 0 if the boundaries cross; shared edges resolved by the other loop's
    * hole-ness (loop.go:436-469).
    */
  def compareBoundary(o: Loop): Int = {
    if (!bound.intersects(o.bound)) return -1
    if (isFull) return 1
    if (o.isFull) return -1
    val rel = new LoopRelations.CompareBoundaryRelation(o.isHole)
    if (LoopRelations.hasCrossingRelation(this, o, rel)) return 0
    if (rel.foundSharedVertex) return if (rel.containsEdge) 1 else -1
    if (containsPoint(o.vertex(0))) 1 else -1
  }

  /** Validation per loop.go:219-270 (unit vertices, vertex count,
    * degenerate/antipodal edges, duplicate vertices) plus the
    * non-adjacent edge-crossing check the reference leaves as a TODO
    * (the edge index makes it cheap here). Returns the first error.
    */
  def validate(checkSelfIntersection: Boolean = true): Option[String] = {
    val n = vertices.length
    var i = 0
    while (i < n) {
      if (math.abs(vertices(i).norm2 - 1.0) > 5 * Predicates.MachineEps)
        return Some(s"vertex $i is not unit length")
      i += 1
    }
    if (n < 3) {
      if (isEmptyOrFull) return None
      return Some("non-empty, non-full loops must have at least 3 vertices")
    }
    i = 0
    while (i < n) {
      if (vertex(i) == vertex(i + 1))
        return Some(s"edge $i is degenerate (duplicate vertex)")
      if (vertex(i) == vertex(i + 1) * -1)
        return Some(s"vertices $i and ${(i + 1) % n} are antipodal")
      i += 1
    }
    val seen = scala.collection.mutable.HashSet[Vec3]()
    i = 0
    while (i < n) {
      if (!seen.add(vertices(i)))
        return Some(s"duplicate vertex at $i")
      i += 1
    }
    if (checkSelfIntersection) {
      i = 0
      while (i < n) {
        val a0 = vertex(i)
        val a1 = vertex(i + 1)
        val crosser = new EdgeCrosser(a0, a1)
        for (j <- candidateEdges(a0, a1)) {
          // skip this edge and the two adjacent ones (they share a vertex)
          val adjacent = j == i || (j + 1) % n == i || (i + 1) % n == j
          if (!adjacent && j > i &&
            crosser.crossingSignTo(vertex(j), vertex(j + 1)) == Cross)
            return Some(s"edges $i and $j cross")
        }
        i += 1
      }
    }
    None
  }

  /** Whether the two loops have the same boundary (same vertices in the
    * same cyclic order); empty and full differ (loop.go:394-425).
    */
  def boundaryEqual(o: Loop): Boolean = {
    if (vertices.length != o.vertices.length) return false
    if (isEmptyOrFull) return isEmpty == o.isEmpty
    var offset = 0
    while (offset < vertices.length) {
      if (vertices(offset) == o.vertex(0)) {
        var i = 0
        while (i < vertices.length) {
          if (vertex(i + offset) != o.vertex(i)) return false
          i += 1
        }
        return true
      }
      offset += 1
    }
    false
  }

  /** Index of a vertex equal to p in [1, numVertices], or -1
    * (loop.go:917-945).
    */
  private[core] def findVertex(p: Vec3): Int = {
    var i = 1
    while (i <= vertices.length) {
      if (vertex(i) == p) return i
      i += 1
    }
    -1
  }

  /** Containment given the precondition that the loops share no edges and
    * either nest or are disjoint (loop.go:951-980).
    */
  def containsNested(o: Loop): Boolean = {
    if (!subregionBound.containsRect(o.bound)) return false
    if (isEmptyOrFull || o.numVertices < 2) return isFull || o.isEmpty
    val m = findVertex(o.vertex(1))
    if (m < 0) return containsPoint(o.vertex(1))
    WedgeRelations.wedgeContains(vertex(m - 1), vertex(m), vertex(m + 1),
      o.vertex(0), o.vertex(2))
  }

  /** Whether this loop contains the other's boundary, given no boundary
    * crossings; reverseOther flips the other's direction for shared-edge
    * resolution (loop.go:1822-1852).
    */
  private[core] def containsNonCrossingBoundary(o: Loop,
                                                reverseOther: Boolean): Boolean = {
    if (!bound.intersects(o.bound)) return false
    if (isFull) return true
    if (o.isFull) return false
    val m = findVertex(o.vertex(0))
    if (m < 0) return containsPoint(o.vertex(0))
    WedgeRelations.wedgeContainsSemiwedge(vertex(m - 1), vertex(m),
      vertex(m + 1), o.vertex(1), reverseOther)
  }

  // ------------------------------------------------------------------
  // Loop x Cell relation
  //
  // intersects(cell) = rect bounds meet && (boundary touches cell || the
  //                    cell's vertex 0 is inside)
  // contains(cell)   = the loop bound holds the cell center && the
  //                    boundary misses the cell && vertex 0 is inside
  // where "boundary touches" means a loop vertex lies in the closed cell
  // or a loop edge crosses a cell edge. `cellRelation` evaluates the
  // boundary test once for both answers, and on faces with a FaceView it
  // skips, by (u,v) comparisons, only work whose exact answer is already
  // known to be "no": a cell outside the padded loop box of a loop whose
  // interior is the bounded side, and a (cell, edge) pair whose padded
  // boxes are apart. Every remaining decision uses the same exact
  // predicates (EdgeCrosser, containsPoint, rect bounds) as the all-edges
  // scan, so the relation, and with it every covering, is unchanged.

  /** Per-face (u,v) views for the cell tests, built on first use; an entry
    * is null unless every vertex lies strictly on that face's side.
    */
  @transient private lazy val faceViews: Array[Loop.FaceView] =
    Array.tabulate(6)(f => Loop.FaceView.build(this, f))

  /** Relation to the cell in one pass (`S2Region.Disjoint`, `Intersects`
    * or `Contains`). Faces without a view, and loops with an edge index
    * (whose candidates need the cell's rect bound anyway), take the
    * all-edges or indexed boundary scan instead of the per-edge prefilter.
    */
  override def cellRelation(cell: Cell): Int = {
    if (isEmpty) return S2Region.Disjoint
    if (isFull) return if (bound.containsPoint(cell.center) &&
      containsPoint(cell.vertex(0))) S2Region.Contains else S2Region.Intersects
    val fv = faceViews(cell.face)
    if (fv != null && fv.boundedInterior && fv.missesBox(cell)) return S2Region.Disjoint
    if (fv != null && builtIndex.isEmpty) {
      val touches = boundaryTouchesOnFace(fv, cell)
      if (!touches && !containsPoint(cell.vertex(0))) return S2Region.Disjoint
      if (!bound.intersects(cell.rectBound)) return S2Region.Disjoint
      relationGivenIntersect(cell, touches)
    } else {
      val rect = cell.rectBound
      if (!bound.intersects(rect)) return S2Region.Disjoint
      val touches = boundaryTouchesScan(cell, rect)
      if (!touches && !containsPoint(cell.vertex(0))) return S2Region.Disjoint
      relationGivenIntersect(cell, touches)
    }
  }

  /** Contains or Intersects for a cell known to intersect the loop; when
    * the boundary misses the cell, its vertex 0 is known to be inside.
    */
  private def relationGivenIntersect(cell: Cell, touches: Boolean): Int =
    if (!touches && bound.containsPoint(cell.center)) S2Region.Contains
    else S2Region.Intersects

  /** Boundary test over every edge, or the index's candidates for the
    * cell's rect bound.
    */
  private def boundaryTouchesScan(cell: Cell, rect: SphereRect): Boolean = {
    val cand: Array[Int] = builtIndex match {
      case Some(idx) => idx.candidateEdgesInRect(rect)
      case None => Array.tabulate(vertices.length)(identity)
    }
    var i = 0
    while (i < cand.length) {
      if (cell.containsPoint(vertex(cand(i)))) return true
      i += 1
    }
    val cv = Array.tabulate(4)(cell.vertex)
    i = 0
    while (i < cand.length) {
      if (edgeCrossesCell(cand(i), cv)) return true
      i += 1
    }
    false
  }

  /** Boundary test on a face view: the vertex test reads the view's (u,v)
    * (the same values `Cell.containsPoint` computes), and only edges whose
    * padded box meets the cell reach the exact crossing test.
    */
  private def boundaryTouchesOnFace(fv: Loop.FaceView, cell: Cell): Boolean = {
    val n = vertices.length
    var i = 0
    while (i < n) {
      if (cell.containsUV(fv.u(i), fv.v(i))) return true
      i += 1
    }
    var cv: Array[Vec3] = null
    i = 0
    while (i < n) {
      if (fv.edgeMeets(i, cell)) {
        if (cv == null) cv = Array.tabulate(4)(cell.vertex)
        if (edgeCrossesCell(i, cv)) return true
      }
      i += 1
    }
    false
  }

  /** Whether loop edge e crosses (or shares a vertex with) a cell edge. */
  private def edgeCrossesCell(e: Int, cv: Array[Vec3]): Boolean = {
    val crosser = new EdgeCrosser(vertex(e), vertex(e + 1))
    var k = 0
    while (k < 4) {
      if (crosser.edgeOrVertexCrossingTo(cv(k), cv((k + 1) & 3))) return true
      k += 1
    }
    false
  }

  def containsCell(cell: Cell): Boolean = cellRelation(cell) == S2Region.Contains

  def intersectsCell(cell: Cell): Boolean = cellRelation(cell) != S2Region.Disjoint

  def capBound: Cap = {
    // Bounding cap derived from the rect bound's center/corners.
    if (isEmpty) return Cap.empty
    if (isFull) return Cap.full
    val ctrLat = bound.lat.center
    val ctrLng = bound.lng.center
    var c = Cap.fromPoint(LatLng.toPoint(ctrLat, ctrLng))
    var i = 0
    while (i < vertices.length) { c = c.addPoint(vertices(i)); i += 1 }
    c
  }

  def rectBound: SphereRect = bound

  def cellUnionBound: Array[Long] = capBound.cellUnionBound

  /** Signed turning angle sum; > 0 for CCW "normalized" loops. */
  def isNormalized: Boolean = area <= 2 * math.Pi + 1e-10

  /** Invert the loop in place semantics: returns the complement loop;
    * empty and full swap their sentinel vertices (loop.go:856-880).
    */
  def inverted: Loop =
    if (isEmptyOrFull) { if (isFull) Loop.empty else Loop.full }
    else new Loop(vertices.reverse)

  def normalized: Loop = if (isNormalized) this else inverted

  /** Loop area in steradians, in [0, 4*Pi], via the signed surface integral
    * (loop.go:1007-1070 semantics — Kahan-free simplified form: area of a
    * spherical polygon = sum of triangle areas from an interior fan with
    * sign handling done by the parity of the origin).
    */
  def area: Double = {
    if (isEmptyOrFull) return if (originInside) 4 * math.Pi else 0.0
    var a = turningAngleArea()
    if (a < 0) a += 4 * math.Pi
    if (a > 4 * math.Pi) a = 4 * math.Pi
    if (a < 0) a = 0
    a
  }

  /** Canonical (rotation- and direction-invariant) first vertex and
    * traversal direction, so angle sums are order-stable
    * (loop.go:758-775).
    */
  private def canonicalFirstVertex: (Int, Int) = {
    def cmpLess(a: Vec3, b: Vec3): Boolean =
      a.x < b.x || (a.x == b.x && (a.y < b.y || (a.y == b.y && a.z < b.z)))
    var firstIdx = 0
    val n = vertices.length
    var i = 1
    while (i < n) {
      if (cmpLess(vertex(i), vertex(firstIdx))) firstIdx = i
      i += 1
    }
    if (cmpLess(vertex(firstIdx + 1), vertex(firstIdx + n - 1))) (firstIdx, 1)
    else (firstIdx + n, -1)
  }

  /** Turning-angle sum with Kahan compensation over the canonical vertex
    * order (loop.go:785-828): plain accumulation has worst-case error
    * quadratic in the vertex count on spiral shapes.
    */
  def turningAngle: Double = {
    if (isEmptyOrFull) return if (originInside) -2 * math.Pi else 2 * math.Pi
    if (vertices.length < 3) return 0
    val n0 = vertices.length
    var (i, dir) = canonicalFirstVertex
    var sum = turnAngle(vertex((i + n0 - dir) % n0), vertex(i % n0),
      vertex((i + dir + 2 * n0) % n0))
    var compensation = 0.0
    var n = n0
    while (n - 1 > 0) {
      i += dir
      var angle = turnAngle(vertex((i - dir + 2 * n0) % n0), vertex((i + 2 * n0) % n0),
        vertex((i + dir + 2 * n0) % n0))
      val oldSum = sum
      angle += compensation
      sum += angle
      compensation = (oldSum - sum) + angle
      n -= 1
    }
    val maxCurvature = 2 * math.Pi - 4 * Predicates.MachineEps
    math.max(-maxCurvature, math.min(maxCurvature, dir * (sum + compensation)))
  }

  /** Gauss-Bonnet: area = 2*Pi - sum of turning angles. */
  private def turningAngleArea(): Double = 2 * math.Pi - turningAngle

  /** Exterior (turning) angle at b going a->b->c, positive for left turns
    * (point_measures.go:120-150).
    */
  private def turnAngle(a: Vec3, b: Vec3, c: Vec3): Double = {
    val angle = pointCross(a, b).angle(pointCross(b, c))
    if (Predicates.sign(a, b, c)) angle else -angle
  }

  /** Centroid of the loop interior times its area (not unit length). */
  def centroidTimesArea: Vec3 = {
    // Fan of triangles from vertex(0); triangle centroid contribution per
    // centroids.go:61-100 (TrueCentroid of triangle).
    var sum = Vec3.zero
    var i = 1
    while (i + 1 <= vertices.length - 1) {
      sum = sum + Centroids.trueCentroid(vertices(0), vertices(i), vertices(i + 1))
      i += 1
    }
    sum
  }
}

object Loop {
  /** Build from vertices; does NOT take ownership normalization decisions
    * (loop.go:77-105).
    */
  def fromPoints(points: Array[Vec3]): Loop = new Loop(points)

  def fromLatLngsDegrees(latLngs: Seq[(Double, Double)]): Loop =
    new Loop(latLngs.map { case (lat, lng) => LatLng.toPointDegrees(lat, lng) }.toArray)

  /** Parse the reference's text fixture format "lat:lng, lat:lng, ..."
    * in degrees (textformat_test.go:15-30).
    */
  def parse(s: String): Loop =
    fromLatLngsDegrees(s.split(",").map(_.trim).filter(_.nonEmpty).map { tok =>
      val Array(lat, lng) = tok.split(":").map(_.trim.toDouble)
      (lat, lng)
    }.toSeq)

  /** The loop's vertices in one face's (u,v) coordinates, with padded
    * per-edge and whole-loop boxes. Built only when every vertex lies
    * strictly on the face's side: each edge is then a straight segment in
    * (u,v) (the gnomonic projection maps geodesics to lines), so the
    * boundary lies inside the loop box and each edge inside its own box.
    *
    * `pad` is at least `FaceClipErrorUVCoord + IntersectsRectErrorUVDist`
    * plus `Cell.ContainsPointMargin`, scaled by the largest |u|, |v|: far
    * more than the rounding of a vertex's (u,v) (half an ulp) and of a
    * normalized cell corner (about one ulp), so a box that misses the cell
    * proves the exact predicates would answer "no".
    *
    * `boundedInterior`: the point opposite the face's axis is outside the
    * loop. It is not on the boundary and every point outside the loop box
    * is connected to it without crossing the boundary, so such points are
    * outside too. For a valid loop this is its area being at most 2*Pi.
    */
  private[core] final class FaceView(val u: Array[Double], val v: Array[Double],
                                     eBox: Array[Double], box: Array[Double],
                                     val boundedInterior: Boolean) {
    /** Whether the padded box of edge e (u,v lo/hi at 4e..4e+3) meets the cell. */
    def edgeMeets(e: Int, c: Cell): Boolean = {
      val b = 4 * e
      eBox(b) <= c.uHi && eBox(b + 1) >= c.uLo && eBox(b + 2) <= c.vHi && eBox(b + 3) >= c.vLo
    }

    def missesBox(c: Cell): Boolean =
      box(0) > c.uHi || box(1) < c.uLo || box(2) > c.vHi || box(3) < c.vLo
  }

  private[core] object FaceView {
    final val PadUV: Double = EdgeClipping.FaceClipErrorUVCoord +
      EdgeClipping.IntersectsRectErrorUVDist + Cell.ContainsPointMargin

    def build(loop: Loop, face: Int): FaceView = {
      val n = loop.numVertices
      val u = new Array[Double](n)
      val v = new Array[Double](n)
      var scale = 1.0
      var i = 0
      while (i < n) {
        val p = loop.vertices(i)
        if (!STUV.onFaceSide(face, p)) return null
        u(i) = STUV.validFaceXYZtoU(face, p.x, p.y, p.z)
        v(i) = STUV.validFaceXYZtoV(face, p.x, p.y, p.z)
        scale = math.max(scale, math.max(math.abs(u(i)), math.abs(v(i))))
        i += 1
      }
      val pad = PadUV * scale
      val eBox = new Array[Double](4 * n)
      val box = Array(Double.MaxValue, -Double.MaxValue, Double.MaxValue, -Double.MaxValue)
      i = 0
      while (i < n) {
        val j = if (i + 1 == n) 0 else i + 1
        eBox(4 * i) = math.min(u(i), u(j)) - pad
        eBox(4 * i + 1) = math.max(u(i), u(j)) + pad
        eBox(4 * i + 2) = math.min(v(i), v(j)) - pad
        eBox(4 * i + 3) = math.max(v(i), v(j)) + pad
        box(0) = math.min(box(0), eBox(4 * i))
        box(1) = math.max(box(1), eBox(4 * i + 1))
        box(2) = math.min(box(2), eBox(4 * i + 2))
        box(3) = math.max(box(3), eBox(4 * i + 3))
        i += 1
      }
      new FaceView(u, v, eBox, box,
        !loop.bruteForceContainsPoint(STUV.unitNorm(face) * -1.0))
    }
  }

  val empty: Loop = new Loop(Array(Vec3(0, 0, 1)))
  val full: Loop = new Loop(Array(Vec3(0, 0, -1)))

  /** Regular polygon loop: numVertices vertices on a circle of the given
    * angular radius around center (loop.go:742-750, point.go:148-172).
    */
  def regularLoop(center: Vec3, radiusRad: Double, numVertices: Int): Loop = {
    // Right-handed frame (x,y,z=center) per matrix3x3.go:104-114.
    val z = center
    val y = z.ortho
    val x = y.cross(z)
    val cosR = math.cos(radiusRad)
    val sinR = math.sin(radiusRad)
    val step = 2 * math.Pi / numVertices
    val verts = Array.tabulate(numVertices) { i =>
      val angle = i * step
      val p = Vec3(sinR * math.cos(angle), sinR * math.sin(angle), cosR)
      // fromFrame: m * p with columns (x, y, z)
      (x * p.x + y * p.y + z * p.z).normalize
    }
    new Loop(verts)
  }
}

/** Triangle centroid kernels (/root/reference/s2/centroids.go:61-133). */
object Centroids {
  /** True centroid of spherical triangle ABC times its area. */
  def trueCentroid(a: Vec3, b: Vec3, c: Vec3): Vec3 = {
    // centroids.go:78-110, INCLUDING the first-row subtraction: solving
    // Cramer's rule on the raw vertex rows cancels catastrophically for
    // tiny triangles (vertices agree to many digits); subtracting row A
    // from B and C keeps the differences exact.
    val angleA = b.angle(c)
    val angleB = c.angle(a)
    val angleC = a.angle(b)
    val ra = if (angleA == 0) 1.0 else angleA / math.sin(angleA)
    val rb = if (angleB == 0) 1.0 else angleB / math.sin(angleB)
    val rc = if (angleC == 0) 1.0 else angleC / math.sin(angleC)

    val xv = Vec3(a.x, b.x - a.x, c.x - a.x)
    val yv = Vec3(a.y, b.y - a.y, c.y - a.y)
    val zv = Vec3(a.z, b.z - a.z, c.z - a.z)
    val r = Vec3(ra, rb - ra, rc - ra)
    Vec3(
      0.5 * yv.cross(zv).dot(r),
      0.5 * zv.cross(xv).dot(r),
      0.5 * xv.cross(yv).dot(r))
  }
}
