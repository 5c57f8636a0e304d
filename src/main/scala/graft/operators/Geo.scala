package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expressions.RegionIndex
import graft.sources.Tables

/** Geo-partitioned ingest semantics from the reference
  * (`/root/reference/regionSpout.go`): region catalog (O1), point-in-box
  * region assignment (O4), broadcast region-metadata enrichment (O5),
  * rawTweet-style envelope projection + per-region topic routing (O6/O7).
  *
  * The reference pushes the geo predicate to Twitter's server
  * (`regionSpout.go:133-139`); here it is one native map-side expression,
  * `graft_region` ([[graft.expressions.RegionLookup]]), that looks each
  * point up in a uniform grid index built once from the catalog (Raptor's
  * raster/vector lookup, VLDB 2019). The fact stream never shuffles for
  * region assignment, the per-row work follows the catalog's local
  * density rather than its size, and the plan is the same few codegen'd
  * lines at 2 or 10,000 regions. Only the per-region count aggregate
  * exchanges (partial agg first), and the output is partitioned by region
  * exactly like the reference's per-region Kafka topics.
  *
  * The `events` testdata has no coordinates, so queries derive a
  * deterministic synthetic point per event with pure integer arithmetic —
  * identical in Spark and DuckDB, hence oracle-safe:
  *   lon = (-1300 + event_id % 660) / 10.0          ∈ [-130.0, -64.1]
  *   lat = (240 + (event_id * 7919) % 260) / 10.0   ∈ [24.0, 49.9]
  * This spans both USA boxes plus out-of-region space (region = 'NONE').
  */
object Geo {

  /** Region catalog row, schema per `/root/reference/locations.json:1-23`
    * (FIXTURES.md A1). Quirk preserved: `east` can hold the SMALLER
    * longitude (locations.json:8,10), so containment uses least/greatest. */
  case class Region(
      name: String, id: String,
      centerLat: Double, centerLon: Double,
      north: Double, east: Double, south: Double, west: Double)

  /** The reference's sample catalog verbatim (locations.json:1-23). */
  val usaCatalog: Seq[Region] = Seq(
    Region("United States", "USA0", 30.84057971014493, -111.07285123034087,
      49.31884057971014, -125.56620246068175, 24.681159420289855, -96.5795),
    Region("United States", "USA1", 30.84057971014493, -82.08614876965913,
      49.31884057971014, -96.5795, 24.681159420289855, -67.59279753931825))

  /** Catalog as a broadcastable DataFrame. */
  def regions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    usaCatalog.toDF()
  }

  /** Load a catalog from a locations.json-format file (O1,
    * regionSpout.go:169-184). multiLine because the file is a pretty-printed
    * JSON array, not JSON-lines. */
  def loadCatalog(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", true).json(path)
      .select(col("name"), col("ID").as("id"),
        col("centerLat"), col("centerLon"),
        col("north"), col("east"), col("south"), col("west"))

  /** [[loadCatalog]] as [[Region]]s. Bounds may be inferred as integers
    * or missing; a missing bound reads as NaN, which [[regionIdFor]]
    * rejects along with a missing id. */
  def loadRegions(spark: SparkSession, path: String): Seq[Region] =
    loadCatalog(spark, path).collect().toSeq.map { r =>
      def bound(f: String) = Option(r.getAs[Any](f)).fold(Double.NaN) {
        case v: Number => v.doubleValue
        case v => throw new IllegalArgumentException(s"region catalog: $f bound $v is not a number")
      }
      Region(r.getAs[String]("name"), r.getAs[String]("id"),
        bound("centerLat"), bound("centerLon"),
        bound("north"), bound("east"), bound("south"), bound("west"))
    }

  /** The deterministic synthetic point columns (see object doc). Integer
    * ops first, one final division — bit-identical across engines. */
  private[graft] def withPoint(events: DataFrame): DataFrame =
    events
      .withColumn("lon", (lit(-1300) + col("event_id") % 660) / 10.0)
      .withColumn("lat", (lit(240) + (col("event_id") * 7919) % 260) / 10.0)

  /** SQL fragment computing the same points, for oracles. */
  private[operators] val pointSql =
    """SELECT event_id, ts, event_type, props,
      |       (-1300 + event_id % 660) / 10.0 AS lon,
      |       (240 + (event_id * 7919) % 260) / 10.0 AS lat
      |FROM events""".stripMargin

  /** Catalog as an inline-VALUES SQL relation (same literals as
    * `usaCatalog`), for oracles; alias is caller-chosen so the fragment can
    * appear twice in one query. */
  private[operators] def regionSql(alias: String) =
    s"""(VALUES
       |  ('United States','USA0',49.31884057971014,-125.56620246068175,24.681159420289855,-96.5795),
       |  ('United States','USA1',49.31884057971014,-96.5795,24.681159420289855,-67.59279753931825))
       |  $alias(name, id, north, east, south, west)""".stripMargin

  /** The catalog literal `graft_region` takes, one struct per box. */
  private case class Box(id: String, lo: Double, hi: Double, south: Double, north: Double)

  /** Region-assignment column (O4): the id of the lowest-id box
    * containing (lon, lat), inclusive bounds, east/west read through
    * least/greatest; no match, or a null or NaN coordinate → 'NONE'. So the
    * shared USA0/USA1 boundary resolves to USA0 (FIXTURES.md C). One native
    * expression over a grid index of the catalog (see the object doc): no
    * join, no shuffle, whole-stage-codegen'd, and no cap on the catalog
    * size. A null id or a non-finite bound fails here, before any query
    * runs. */
  def regionIdFor(catalog: Seq[Region], lon: Column, lat: Column): Column = {
    val boxes = catalog.map(r =>
      Box(r.id, math.min(r.east, r.west), math.max(r.east, r.west), r.south, r.north))
    boxes.zipWithIndex.foreach { case (b, k) =>
      RegionIndex.check(k, b.id, b.lo, b.hi, b.south, b.north) }
    call_function("graft_region", typedLit(boxes), lon, lat)
  }

  /** Events with their assigned region ID (map-side, see regionIdFor). */
  def assignRegion(spark: SparkSession, events: DataFrame): DataFrame = {
    // streams reach here without Tables.load, whose call registers
    // graft_region in a session built outside graft.Session
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    val pts = withPoint(events)
    pts.withColumn("region", regionIdFor(usaCatalog, col("lon"), col("lat")))
  }

  /** q19: per-region event counts — the reference's core routing semantic
    * (every tweet lands in exactly one per-region topic) as a batch query. */
  def q19GeoAssign(spark: SparkSession, dir: String): DataFrame =
    assignRegion(spark, Tables.events(spark, dir))
      .groupBy(col("region"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("region"))

  val q19Sql: String =
    s"""WITH pts AS ($pointSql),
       |a AS (SELECT p.event_id, coalesce(min(r.id), 'NONE') AS region
       |      FROM pts p LEFT JOIN ${regionSql("r")}
       |        ON p.lon >= least(r.east, r.west) AND p.lon <= greatest(r.east, r.west)
       |       AND p.lat >= r.south AND p.lat <= r.north
       |      GROUP BY p.event_id)
       |SELECT region, count(*) AS n_events FROM a GROUP BY region ORDER BY region""".stripMargin

  /** q20: rawTweet-style envelope + per-region topic routing (O6/O7):
    * `{id, text, region, regionData}` (regionSpout.go:46-51) with
    * topic = "raw-tweets-<regionID>" (regionSpout.go:156). regionData is
    * JSON-in-string like the reference (regionSpout.go:50,87), built by
    * explicit concatenation so both engines format identically. */
  def q20Envelope(spark: SparkSession, dir: String): DataFrame = {
    val assigned = assignRegion(spark, Tables.events(spark, dir))
      .filter(col("region") =!= "NONE")
    val cat = regions(spark).select(col("id"), col("name"))
    assigned.join(broadcast(cat), assigned("region") === cat("id"))
      .select(
        col("event_id").cast("string").as("id"),
        col("props").as("text"),
        col("region"),
        concat(lit("{\"ID\":\""), col("region"),
          lit("\",\"name\":\""), col("name"), lit("\"}")).as("region_data"),
        concat(lit("raw-tweets-"), col("region")).as("topic"))
      .orderBy(col("id"))
  }

  val q20Sql: String =
    s"""WITH pts AS ($pointSql),
       |a AS (SELECT p.event_id, p.props, min(r.id) AS region
       |      FROM pts p JOIN ${regionSql("r")}
       |        ON p.lon >= least(r.east, r.west) AND p.lon <= greatest(r.east, r.west)
       |       AND p.lat >= r.south AND p.lat <= r.north
       |      GROUP BY p.event_id, p.props)
       |SELECT CAST(a.event_id AS VARCHAR) AS id, a.props AS text, a.region,
       |       '{"ID":"' || a.region || '","name":"' || r2.name || '"}' AS region_data,
       |       'raw-tweets-' || a.region AS topic
       |FROM a JOIN ${regionSql("r2")} ON a.region = r2.id
       |ORDER BY id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q19_geo_assign" -> q19GeoAssign _,
    "q20_envelope"   -> q20Envelope _,
  )

  val oracle: Map[String, String] = Map(
    "q19_geo_assign" -> q19Sql,
    "q20_envelope"   -> q20Sql,
  )
}
