package graft

import graft.operators.Geo

/** Shared geo test fixtures: the brute-force region oracle and seeded
  * box catalogs over the synthetic point space. */
object GeoFixtures {

  /** Ordered scan of the whole catalog, written without the grid: the
    * lowest id whose inclusive box (east/west through min/max) holds the
    * point wins; no box, or a missing or NaN coordinate, gives NONE. */
  def bruteForce(catalog: Seq[Geo.Region], lon: java.lang.Double,
                 lat: java.lang.Double): String =
    if (lon == null || lat == null) "NONE"
    else catalog.sortBy(_.id).find(r =>
      lon >= math.min(r.east, r.west) && lon <= math.max(r.east, r.west) &&
        lat >= r.south && lat <= r.north).map(_.id).getOrElse("NONE")

  /** `n` boxes at seeded positions over the events' point space (lon
    * −130…−64.1, lat 24…49.9), sides up to twice the mean spacing so
    * neighbours overlap; half carry the inverted east/west quirk. */
  def seededBoxes(n: Int, seed: Long): Seq[Geo.Region] = {
    val rnd = new scala.util.Random(seed)
    val step = math.sqrt(66.0 * 26.0 / n)
    Seq.tabulate(n) { k =>
      val w = rnd.between(0.2, 2.0) * step
      val h = rnd.between(0.2, 2.0) * step
      val lo = rnd.between(-130.0, -64.1)
      val so = rnd.between(24.0, 49.9)
      val (east, west) = if (rnd.nextBoolean()) (lo, lo + w) else (lo + w, lo)
      Geo.Region(s"Region $k", f"B${rnd.nextInt(n * 4)}%06d",
        so + h / 2, lo + w / 2, so + h, east, so, west)
    }
  }
}
