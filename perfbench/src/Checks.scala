package graft.perfbench

import graft.operators.Geo

/** The benchmark's correctness checks, in plain JVM code apart from the
  * engine. Each returns the list of what is wrong (empty when correct). */
object Checks {

  /** The documented synthetic point of an event (see `Geo`'s header):
    * integer arithmetic first, one final division. */
  def point(eventId: Long): (Double, Double) =
    ((-1300L + eventId % 660) / 10.0, (240L + (eventId * 7919) % 260) / 10.0)

  /** Brute-force region of one event: the lowest id among the boxes that
    * contain its point (bounds inclusive, east/west in either order), or
    * `NONE`. */
  def regionOf(eventId: Long, byId: Seq[Geo.Region]): String = {
    val (lon, lat) = point(eventId)
    byId.find(r => lon >= math.min(r.east, r.west) && lon <= math.max(r.east, r.west) &&
      lat >= r.south && lat <= r.north).map(_.id).getOrElse("NONE")
  }

  /** Brute-force per-region counts (with `NONE`) of the events `ids`. */
  def regionCounts(ids: Iterator[Long], catalog: Seq[Geo.Region]): Map[String, Long] = {
    val byId = catalog.sortBy(_.id)
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    ids.foreach(i => counts(regionOf(i, byId)) += 1)
    counts.toMap
  }

  /** What one drained sink directory must hold. `eventsIn` is the number
    * of events the generator wrote, `eventsRead` the engine's own count of
    * the events its micro-batches read (their progress `numInputRows`),
    * `got` the rows per `region=` partition read back from the sink,
    * `distinctIds` the number of distinct event ids among them, `badTopics`
    * the rows whose `topic` is not `raw-tweets-<region>`. */
  def geoSink(expected: Map[String, Long], eventsIn: Long, eventsRead: Long,
              got: Map[String, Long], distinctIds: Long, badTopics: Long): Seq[String] = {
    val rows = got.values.sum
    val none = expected.getOrElse("NONE", 0L)
    val want = expected - "NONE"
    Seq(
      (got != want) -> s"per-region counts differ: ${diff(want, got)}",
      (eventsRead != eventsIn) -> s"the stream read $eventsRead events, $eventsIn were staged",
      (rows + none != eventsRead) -> s"conservation: $rows rows out + $none NONE != $eventsRead events read",
      (distinctIds != rows) -> s"${rows - distinctIds} event ids appear more than once",
      (badTopics != 0) -> s"$badTopics rows carry a topic other than raw-tweets-<region>",
    ).collect { case (true, msg) => msg }
  }

  private def diff(a: Map[String, Long], b: Map[String, Long]): String =
    (a.keySet ++ b.keySet).toSeq.sorted
      .filter(k => a.get(k) != b.get(k))
      .take(5).map(k => s"$k want ${a.getOrElse(k, 0L)} got ${b.getOrElse(k, 0L)}").mkString(", ")

  /** A snap table read against its expected content: row count, Σ
    * `c_acctbal` in cents and, when `gotKeys` is given, the key set. */
  def snapTable(what: String, expected: scala.collection.Map[Long, Gen.Cust],
                gotRows: Long, gotCents: Long, gotKeys: Option[Set[Long]]): Seq[String] = {
    val wantCents = expected.valuesIterator.map(_.cents).sum
    val wantKeys = expected.keySet.toSet
    Seq(
      (gotRows != expected.size) -> s"$what: ${gotRows} rows, expected ${expected.size}",
      (gotCents != wantCents) -> s"$what: sum(c_acctbal) ${gotCents / 100.0}, expected ${wantCents / 100.0}",
      gotKeys.exists(_ != wantKeys) -> (s"$what: key set differs " +
        s"(${gotKeys.map(k => (k diff wantKeys).size).getOrElse(0)} unexpected, " +
        s"${gotKeys.map(k => (wantKeys diff k).size).getOrElse(0)} missing)"),
    ).collect { case (true, msg) => msg }
  }
}
