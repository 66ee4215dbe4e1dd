package graft.core

import org.locationtech.jts.geom.Geometry

/** Exact pairwise spatial predicate evaluation with envelope-arithmetic fast
  * paths — the single refine kernel shared by the tiled join
  * ([[graft.operators.SpatialJoin]], which SQL joins also run) and the
  * scalar `st_*` expressions, so every execution path refines identically.
  *
  * Predicate set mirrors the reference's RESQUE join predicates
  * (/root/reference/src/resque/spjoin_2d.hpp:138-224). The fast paths matter
  * at scale: a general JTS predicate builds a full IntersectionMatrix
  * (O(vertices log vertices) overlay work) per candidate pair, but for
  * axis-aligned rectangles and points — the dominant shapes in tiled
  * workloads — every predicate reduces to a handful of double compares on
  * the already-computed envelopes. Identical results, ~100x less CPU per
  * pair; at 100 TB the refine step is the join's CPU bound, so this is the
  * difference between minutes and hours.
  *
  * Correctness notes encoded in the guards:
  *  - a "rectangle" fast path requires POSITIVE extent (degenerate
  *    zero-width polygons have empty JTS interiors and fall back to JTS);
  *  - rect-contains-point is STRICT (a point on the boundary is not
  *    contained — OGC interior semantics);
  *  - rect/point geometries occupy exactly their envelope, so planar
  *    distance equals envelope distance.
  */
object GeomPredicates {

  @inline private def isPoint(g: Geometry): Boolean =
    g.getGeometryType == "Point"

  /** geometry is a filled axis-aligned box with nonempty interior */
  @inline private def isProperRect(g: Geometry): Boolean = {
    if (!g.isRectangle) false
    else {
      val e = g.getEnvelopeInternal
      e.getWidth > 0 && e.getHeight > 0
    }
  }

  /** geometry's point set IS its envelope (filled box or point) */
  @inline private def envIsExact(g: Geometry): Boolean =
    isPoint(g) || g.isRectangle

  def intersects(g1: Geometry, g2: Geometry): Boolean =
    if (envIsExact(g1) && envIsExact(g2))
      g1.getEnvelopeInternal.intersects(g2.getEnvelopeInternal)
    else g1.intersects(g2)

  def touches(g1: Geometry, g2: Geometry): Boolean =
    // rectangles touch iff envelopes meet but interiors don't — pure
    // arithmetic, avoiding a full relate() per candidate pair (degenerate
    // zero-extent "rectangles" have empty interiors: JTS handles those)
    if (isProperRect(g1) && isProperRect(g2)) {
      val a = g1.getEnvelopeInternal; val b = g2.getEnvelopeInternal
      val meets = a.getMinX <= b.getMaxX && b.getMinX <= a.getMaxX &&
        a.getMinY <= b.getMaxY && b.getMinY <= a.getMaxY
      val interiors = a.getMinX < b.getMaxX && b.getMinX < a.getMaxX &&
        a.getMinY < b.getMaxY && b.getMinY < a.getMaxY
      meets && !interiors
    } else g1.touches(g2)

  /** proper 2-point segment with distinct endpoints (a zero-length closed
    * "segment" has an EMPTY boundary in JTS — its point is interior — so it
    * must take the JTS path) */
  @inline private def isSegment(g: Geometry): Boolean = g match {
    case l: org.locationtech.jts.geom.LineString if l.getNumPoints == 2 =>
      val a = l.getCoordinateN(0); val b = l.getCoordinateN(1)
      a.x != b.x || a.y != b.y
    case _ => false
  }

  /** line/line crosses == proper interior crossing: the intersection is a
    * single point interior to BOTH segments. Four orientation tests with
    * JTS's own robust predicate (Orientation.index) — the same primitive
    * relate() bottoms out in — instead of building the full topology graph.
    * Collinear overlap (dim-1 intersection) and endpoint touching (boundary,
    * not interior) are both correctly false. */
  def crosses(g1: Geometry, g2: Geometry): Boolean =
    if (isSegment(g1) && isSegment(g2)) {
      import org.locationtech.jts.algorithm.Orientation.index
      val p = g1.getCoordinates; val q = g2.getCoordinates
      val o1 = index(p(0), p(1), q(0)); val o2 = index(p(0), p(1), q(1))
      val o3 = index(q(0), q(1), p(0)); val o4 = index(q(0), q(1), p(1))
      ((o1 > 0 && o2 < 0) || (o1 < 0 && o2 > 0)) &&
        ((o3 > 0 && o4 < 0) || (o3 < 0 && o4 > 0))
    } else g1.crosses(g2)

  /** Some(decided) when the rect/point fast path applies; None -> the
    * caller must use its NATIVE JTS call (contains vs within go through
    * different JTS code paths — rectangle-optimized vs relate — which can
    * disagree on degenerate inputs, so the fallback must not swap them). */
  private def containsFast(g1: Geometry, g2: Geometry): Option[Boolean] = {
    val e1 = g1.getEnvelopeInternal
    val e2 = g2.getEnvelopeInternal
    if (!e1.contains(e2)) Some(false) // envelope short-circuit, spjoin_2d.hpp:151-153
    else if (isProperRect(g1)) {
      if (isProperRect(g2)) Some(true) // 2-D g2 inside a filled box: env test decides
      else if (isPoint(g2)) {
        // strict: boundary points are NOT contained (OGC interior semantics)
        val c = g2.getCoordinate
        Some(c.x > e1.getMinX && c.x < e1.getMaxX &&
          c.y > e1.getMinY && c.y < e1.getMaxY)
      } else None
    } else None
  }

  def contains(g1: Geometry, g2: Geometry): Boolean =
    containsFast(g1, g2).getOrElse(g1.contains(g2))

  def within(g1: Geometry, g2: Geometry): Boolean =
    containsFast(g2, g1).getOrElse(g1.within(g2))

  def overlaps(g1: Geometry, g2: Geometry): Boolean =
    // JTS overlaps for equal-dimension inputs: interiors intersect and
    // neither operand is a subset of the other — for filled boxes both
    // conditions are envelope arithmetic (subset == envelope containment)
    if (isProperRect(g1) && isProperRect(g2)) {
      val a = g1.getEnvelopeInternal; val b = g2.getEnvelopeInternal
      val interiors = a.getMinX < b.getMaxX && b.getMinX < a.getMaxX &&
        a.getMinY < b.getMaxY && b.getMinY < a.getMaxY
      interiors && !a.contains(b) && !b.contains(a)
    } else g1.overlaps(g2)

  def equalsTopo(g1: Geometry, g2: Geometry): Boolean =
    // rectangles with equal envelopes ARE equal — skip the relate()
    g1.getEnvelopeInternal.equals(g2.getEnvelopeInternal) &&
      ((g1.isRectangle && g2.isRectangle) || g1.equalsTopo(g2))

  def disjoint(g1: Geometry, g2: Geometry): Boolean =
    if (envIsExact(g1) && envIsExact(g2))
      !g1.getEnvelopeInternal.intersects(g2.getEnvelopeInternal)
    else g1.disjoint(g2)

  /** planar distance-within-d (spjoin_2d.hpp:167-183): for env-exact shapes
    * the true distance IS the envelope gap distance. */
  def dwithinPlanar(g1: Geometry, g2: Geometry, d: Double): Boolean =
    if (envIsExact(g1) && envIsExact(g2))
      g1.getEnvelopeInternal.distance(g2.getEnvelopeInternal) <= d
    else g1.isWithinDistance(g2, d)

  /** Dispatch by predicate name — the shared refine entry point. */
  def eval(predicate: String, g1: Geometry, g2: Geometry,
           distance: Double, earth: Boolean = false): Boolean = predicate match {
    case "intersects" => intersects(g1, g2)
    case "touches"    => touches(g1, g2)
    case "crosses"    => crosses(g1, g2)
    case "contains"   => contains(g1, g2)
    case "within"     => within(g1, g2)
    case "overlaps"   => overlaps(g1, g2)
    case "equals"     => equalsTopo(g1, g2)
    case "disjoint"   => disjoint(g1, g2) // tile-local, J8 caveat
    case "adjacent"   => !disjoint(g1, g2) // == !disjoint, spjoin_2d.hpp:155-157
    case "dwithin"    =>
      // --earth: spherical distance in meters, with the reference's
      // constants (spjoin_2d.hpp:167-205, geographical.h:3-23). The
      // reference silently falls back to PLANAR degree-unit distance for
      // non-point geometries, mixing units row-by-row within one join — we
      // reject non-points instead of reproducing that trap. (The
      // reference's OTHER earth trap — expanding the probe envelope by
      // meters-as-degrees, which degenerates the tiled join to all-pairs —
      // is fixed in SpatialJoin.withEnvEarthMeters; this refine always
      // receives the meter threshold.)
      if (earth) {
        require(isPoint(g1) && isPoint(g2),
          s"earth=true dwithin requires Point geometries; got " +
            s"${g1.getGeometryType}/${g2.getGeometryType} — planar fallback " +
            "would compare degree-unit distances against a meter threshold")
        Geo.haversineMeters(
          g1.getCoordinate.x, g1.getCoordinate.y,
          g2.getCoordinate.x, g2.getCoordinate.y) <= distance
      } else dwithinPlanar(g1, g2, distance)
    case other => throw new IllegalArgumentException(s"predicate $other")
  }
}
