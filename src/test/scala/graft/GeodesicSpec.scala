package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.raster.{Datum, Geodesic}

/** Validation net for the Vincenty geodesic kernel — closed-form pins
  * that need no memorized survey vectors: meridian/equator arcs have
  * independent closed forms, the f=0 sphere limit has an exact great
  * circle, and direct∘inverse must round-trip. */
class GeodesicSpec extends AnyFunSuite with SparkSpecBase {
  private val wgs = Datum.WGS84

  /** Independent meridian-arc length by Simpson integration of the
    * meridian curvature radius M(φ) = a(1−e²)/(1−e²sin²φ)^{3/2} — no
    * shared code with the Vincenty series. */
  private def meridianArc(ell: Datum.Ellipsoid, lat1: Double, lat2: Double): Double = {
    val n = 20000
    val h = math.toRadians(lat2 - lat1) / n
    def m(phi: Double): Double = {
      val s = math.sin(phi)
      ell.a * (1 - ell.e2) / math.pow(1 - ell.e2 * s * s, 1.5)
    }
    var acc = 0.0
    for (i <- 0 until n) {
      val p0 = math.toRadians(lat1) + i * h
      acc += h / 6 * (m(p0) + 4 * m(p0 + h / 2) + m(p0 + h))
    }
    acc
  }

  test("meridian arcs: equator->pole is the quarter meridian; arbitrary arcs match Simpson integration") {
    val Some((s, a1, _)) = Geodesic.inverse(wgs, 10.0, 0.0, 10.0, 90.0)
    // the metre's historical definition: quarter meridian ~10^7 m;
    // WGS84 value to the mm
    assert(math.abs(s - 1.00019657293e7) < 0.05, s"quarter meridian $s")
    assert(math.abs(a1) < 1e-9) // due north
    for ((l1, l2) <- Seq((-35.0, 12.0), (17.5, 63.25), (-80.0, -79.0))) {
      val Some((sv, _, _)) = Geodesic.inverse(wgs, -3.0, l1, -3.0, l2)
      val si = meridianArc(wgs, l1, l2)
      assert(math.abs(sv - si) < 0.01, s"meridian [$l1,$l2]: $sv vs $si")
    }
  }

  test("equatorial arcs: the equator is the geodesic, s = a*dLon") {
    for (dl <- Seq(0.5, 30.0, 90.0, 150.0)) {
      val Some((s, a1, _)) = Geodesic.inverse(wgs, 5.0, 0.0, 5.0 + dl, 0.0)
      assert(math.abs(s - wgs.a * math.toRadians(dl)) < 1e-6,
        s"equator $dl deg: $s")
      assert(math.abs(a1 - math.Pi / 2) < 1e-12) // due east
    }
  }

  test("f=0 sphere limit equals the closed-form great circle") {
    val sph = Datum.Ellipsoid(6371000.0, 0.0)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val (lo1, la1) = (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 170 - 85)
      val (lo2, la2) = (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 170 - 85)
      Geodesic.inverse(sph, lo1, la1, lo2, la2).foreach { case (s, _, _) =>
        val (p1, p2) = (math.toRadians(la1), math.toRadians(la2))
        val gc = sph.a * math.acos(math.max(-1.0, math.min(1.0,
          math.sin(p1) * math.sin(p2) +
            math.cos(p1) * math.cos(p2) * math.cos(math.toRadians(lo2 - lo1)))))
        assert(math.abs(s - gc) < 1e-6, s"sphere ($lo1,$la1)->($lo2,$la2)")
      }
    }
  }

  test("direct is the inverse of inverse: randomized round-trips to sub-mm") {
    val rnd = new scala.util.Random(7)
    var checked = 0
    for (_ <- 1 to 300) {
      val (lo1, la1) = (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 168 - 84)
      val (lo2, la2) = (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 168 - 84)
      Geodesic.inverse(wgs, lo1, la1, lo2, la2).foreach { case (s, a1, _) =>
        val (lo, la, _) = Geodesic.direct(wgs, lo1, la1, a1, s)
        val dLon = math.abs(((lo - lo2 + 540) % 360) - 180)
        assert(dLon < 1e-8 && math.abs(la - la2) < 1e-8,
          s"roundtrip ($lo1,$la1)->($lo2,$la2) got ($lo,$la)")
        checked += 1
      }
    }
    assert(checked > 280, s"only $checked of 300 pairs converged") // cap is tiny
  }

  test("nearly-antipodal inverse returns None; direct still lands there") {
    assert(Geodesic.inverse(wgs, 0.0, 10.0, 179.9, -10.05).isEmpty)
    // direct has no such cap: shoot half the Earth and round-trip heading
    val (lo, la, _) = Geodesic.direct(wgs, 0.0, 10.0, 1.0, 1.5e7)
    assert(lo.abs <= 360 && la.abs <= 90)
  }

  test("inverseTotal converges in the antipodal cap and lands direct on the target") {
    def wrapd(v: Double): Double = ((v % 360) + 540) % 360 - 180
    // a lattice through the ~0.55-degree lens around the antipode of
    // (2, 48), including the exact antipode itself
    for {
      dlo <- Seq(-0.5, -0.2, -0.05, 0.0, 0.05, 0.2, 0.5)
      dla <- Seq(-0.4, -0.1, 0.0, 0.1, 0.4)
    } {
      val (lon2, lat2) = (wrapd(182.0 + dlo), -48.0 + dla)
      val Some((s, a1, _)) =
        Geodesic.inverseTotal(wgs, 2.0, 48.0, lon2, lat2)
      // ~half-circumference distances only
      assert(s > 1.9e7 && s < 2.1e7, s"cap distance $s at ($dlo,$dla)")
      // the defining property: OUR direct shoots exactly back to p2
      val (lo, la, _) = Geodesic.direct(wgs, 2.0, 48.0, a1, s)
      assert(math.abs(wrapd(lo - lon2)) < 1e-7 && math.abs(la - lat2) < 1e-7,
        s"direct($a1,$s) -> ($lo,$la) wanted ($lon2,$lat2)")
    }
    // exact equatorial antipode: the geodesic is meridional over a pole,
    // s = 2 x quarter meridian (the closed-form pin)
    val Some((sEq, _, _)) = Geodesic.inverseTotal(wgs, 0.0, 0.0, 180.0, 0.0)
    assert(math.abs(sEq - 2 * 1.00019657293e7) < 0.5, s"equatorial antipode $sEq")
    // randomized ellipsoids + cap targets: flattenings from near-sphere
    // to 3x Earth, arbitrary centers, targets inside each lens — the
    // astroid seed and restart ladder must converge for all of them
    val rnd = new scala.util.Random(173)
    for (_ <- 1 to 60) {
      val rf = 100 + rnd.nextDouble() * 400 // inverse flattening
      val f = 1.0 / rf
      val ell = graft.raster.Datum.Ellipsoid(6.3e6 + rnd.nextDouble() * 2e5, rf)
      val (lo1, la1) = (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 160 - 80)
      val capR = 0.6 * f / (1.0 / 298.257223563) // lens scales with f
      val (lo2, la2) = (wrapd(lo1 + 180 + (rnd.nextDouble() * 2 - 1) * capR),
        -la1 + (rnd.nextDouble() * 2 - 1) * capR)
      val r = Geodesic.inverseTotal(ell, lo1, la1, lo2, la2)
      assert(r.isDefined, s"no convergence f=$f ($lo1,$la1)->($lo2,$la2)")
      val (s, a1, _) = r.get
      val (lo, la, _) = Geodesic.direct(ell, lo1, la1, a1, s)
      assert(math.abs(wrapd(lo - lo2)) < 1e-6 && math.abs(la - la2) < 1e-6,
        s"f=$f ($lo1,$la1)->($lo2,$la2): landed ($lo,$la)")
    }
    // just OUTSIDE the cap both solvers run: the Newton shoot must find
    // the same SHORTEST geodesic as Vincenty (sub-mm — same problem)
    for ((lo2, la2) <- Seq((-177.0, -47.6), (-178.0, -47.2), (179.0, -48.3),
        (-176.9, -48.4))) {
      val Some((sV, aV, _)) = Geodesic.inverse(wgs, 2.0, 48.0, lo2, la2)
      val Some((sN, aN, _)) =
        Geodesic.antipodalInverse(wgs, 2.0, 48.0, lo2, la2)
      assert(math.abs(sV - sN) < 1e-3, s"($lo2,$la2) Vincenty $sV vs Newton $sN")
      assert(math.abs(aV - aN) < 1e-9, s"($lo2,$la2) azimuth $aV vs $aN")
    }
  }

  test("graft_geodesic_m: SQL + Column paths equal the kernel; nulls propagate; antipodal cap converges") {
    import spark.implicits._
    val rows = Seq(
      (2.0, 48.0, -73.8, 40.6),
      (10.0, 0.0, 10.0, 90.0),
      (0.0, 10.0, 179.9, -10.05)) // antipodal cap -> Newton shoot, not NaN
      .toDF("lon1", "lat1", "lon2", "lat2")
    val got = rows.selectExpr("graft_geodesic_m(lon1, lat1, lon2, lat2) AS d")
      .collect().map(_.getDouble(0))
    val colGot = rows.select(graft.functions.GeodesicFunctions
      .geodesicMeters($"lon1", $"lat1", $"lon2", $"lat2").as("d"))
      .collect().map(_.getDouble(0))
    val want = Seq(
      Geodesic.distance(wgs, 2.0, 48.0, -73.8, 40.6).get,
      Geodesic.distance(wgs, 10.0, 0.0, 10.0, 90.0).get,
      Geodesic.distanceTotal(wgs, 0.0, 10.0, 179.9, -10.05).get)
    assert(!want(2).isNaN && want(2) > 1.9e7 && want(2) < 2.1e7)
    got.zip(colGot).zip(want).foreach { case ((g, cg), w) =>
      assert(g == w && cg == w, s"$g/$cg vs $w")
    }
    // null propagation (not NaN): null coordinate -> null result
    val n = spark.sql(
      "SELECT graft_geodesic_m(CAST(NULL AS DOUBLE), 1.0, 2.0, 3.0) AS d")
      .collect().head
    assert(n.isNullAt(0))
  }

  test("ellipsoidal aeqd: center maps to origin, x/y axes are east/north geodesics, inverse is total") {
    val p = Geodesic.AzimuthalEquidistant(48.0, 2.0, 0.0, 0.0, wgs)
    assert(p.forward(2.0, 48.0) == (0.0, 0.0))
    // due north: x ~ 0, y = meridian arc 48->49
    val (xn, yn) = p.forward(2.0, 49.0)
    assert(math.abs(xn) < 1e-6 && math.abs(yn - meridianArc(wgs, 48.0, 49.0)) < 0.01)
    // spherical stand-in would be off by ~0.1-0.3% at continental range —
    // the reason datum'd aeqd needed geodesics, not the R=a sphere
    val Some((sGeod, _, _)) = Geodesic.inverse(wgs, 2.0, 48.0, -70.0, 40.0)
    val sphereDist = {
      val (p1, p2) = (math.toRadians(48.0), math.toRadians(40.0))
      wgs.a * math.acos(math.sin(p1) * math.sin(p2) +
        math.cos(p1) * math.cos(p2) * math.cos(math.toRadians(-72.0)))
    }
    assert(math.abs(sGeod - sphereDist) > 1000.0, // >1 km apart at ~5800 km
      s"geodesic $sGeod vs sphere $sphereDist")
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 100) {
      val x = (rnd.nextDouble() * 2 - 1) * 6.0e6
      val y = (rnd.nextDouble() * 2 - 1) * 6.0e6
      val (lon, lat) = p.inverse(x, y)
      val (x2, y2) = p.forward(lon, lat)
      assert(math.hypot(x2 - x, y2 - y) < 1e-3, s"aeqd roundtrip ($x,$y)")
    }
  }
}
