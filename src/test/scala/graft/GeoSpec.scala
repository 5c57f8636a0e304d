package graft

import org.apache.spark.sql.functions._
import graft.operators.Geo
import graft.sources.Tables

class GeoSpec extends SparkSpec {
  import spark.implicits._

  /** Pure-Scala containment mirror (lowest-id tie-break), the spec oracle. */
  private def expectedRegion(lon: Double, lat: Double): String =
    GeoFixtures.bruteForce(Geo.usaCatalog, lon, lat)

  /** The synthetic point of an event id (Geo's object doc). */
  private def pointOf(id: Long): (Double, Double) =
    ((-1300 + id % 660) / 10.0, (240 + (id * 7919) % 260) / 10.0)

  /** Runs `body` on a fresh thread with the JVM's default stack size, so a
    * deep driver-side recursion fails here as it would in an app. */
  private def onDefaultStack[T](body: => T): T = {
    @volatile var out: Either[Throwable, T] = Left(new IllegalStateException("not run"))
    val t = new Thread(null, () => out = try Right(body) catch { case e: Throwable => Left(e) },
      "geo-default-stack", 0L)
    t.start()
    t.join()
    out.fold(e => throw e, identity)
  }

  test("shared USA0/USA1 boundary resolves to lowest region id") {
    val df = Seq((-96.5795, 30.0)).toDF("lon", "lat")
      .select(Geo.regionIdFor(Geo.usaCatalog, col("lon"), col("lat")).as("r"))
    assert(df.head().getString(0) == "USA0")
  }

  test("point outside every box maps to NONE") {
    val df = Seq((0.0, 0.0), (-130.0, 24.0)).toDF("lon", "lat")
      .select(Geo.regionIdFor(Geo.usaCatalog, col("lon"), col("lat")).as("r"))
    assert(df.collect().map(_.getString(0)).forall(_ == "NONE"))
  }

  test("region assignment matches pure-Scala containment on 400 seeded points") {
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(400)((rnd.between(-130.0, -60.0), rnd.between(20.0, 55.0)))
    val got = pts.toDF("lon", "lat")
      .select(col("lon"), col("lat"),
        Geo.regionIdFor(Geo.usaCatalog, col("lon"), col("lat")).as("r"))
      .collect()
    got.foreach { row =>
      assert(row.getString(2) == expectedRegion(row.getDouble(0), row.getDouble(1)),
        s"at (${row.getDouble(0)}, ${row.getDouble(1)})")
    }
  }

  test("q19 per-region counts conserve the event total") {
    val total = Tables.events(spark, sf).count()
    val counted = Geo.q19GeoAssign(spark, sf)
      .agg(sum(col("n_events"))).head().getLong(0)
    assert(counted == total)
  }

  test("q20 envelope: topic is raw-tweets-<region> and NONE rows are dropped") {
    val rows = Geo.q20Envelope(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val region = r.getAs[String]("region")
      assert(region == "USA0" || region == "USA1")
      assert(r.getAs[String]("topic") == s"raw-tweets-$region")
    }
  }

  test("grid assignment equals brute force; a duplicated input keeps its duplicates") {
    val events = Tables.events(spark, sf).limit(1000).cache()
    try {
      val doubled = events.union(events)
      val usa = Geo.assignRegion(spark, doubled).select(col("event_id"), col("region")).collect()
      assert(usa.length == 2 * events.count())
      usa.foreach { r =>
        val (lon, lat) = pointOf(r.getLong(0))
        assert(r.getString(1) == expectedRegion(lon, lat), s"event ${r.getLong(0)}")
      }
      val cat = GeoFixtures.seededBoxes(400, seed = 7)
      val seeded = Geo.withPoint(doubled)
        .select(col("event_id"), Geo.regionIdFor(cat, col("lon"), col("lat")).as("r"))
        .collect()
      assert(seeded.length == usa.length)
      assert(seeded.map(_.getString(1)).distinct.length > 50, "catalog must spread the points")
      seeded.foreach { r =>
        val (lon, lat) = pointOf(r.getLong(0))
        assert(r.getString(1) == GeoFixtures.bruteForce(cat, lon, lat), s"event ${r.getLong(0)}")
      }
    } finally events.unpersist()
  }

  test("400 and 10,000 seeded boxes over 100k points: default stack, no codegen fallback") {
    for (n <- Seq(400, 10000)) {
      val cat = GeoFixtures.seededBoxes(n, seed = n.toLong)
      val assigned = Geo.withPoint(spark.range(100000L).toDF("event_id"))
        .withColumn("region", Geo.regionIdFor(cat, col("lon"), col("lat")))
      val prev = spark.conf.getOption("spark.sql.codegen.fallback")
      // a generated class that fails to compile now fails the query
      // instead of silently running interpreted
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try onDefaultStack {
        assigned.write.format("noop").mode("overwrite").save()
        val plan = assigned.queryExecution.executedPlan
        assert(plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
          s"$n boxes: assignment must run whole-stage codegen'd")
        // exact on a 2,000-point sample against the ordered scan
        val sample = assigned.filter(col("event_id") % 50 === 0)
          .select(col("event_id"), col("region")).collect()
        assert(sample.length == 2000)
        sample.foreach { r =>
          val (lon, lat) = pointOf(r.getLong(0))
          assert(r.getString(1) == GeoFixtures.bruteForce(cat, lon, lat), s"$n boxes, event ${r.getLong(0)}")
        }
      } finally prev.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
    }
  }

  test("a catalog with a null id or a non-finite bound is rejected up front") {
    val ok = Geo.usaCatalog.head
    val bad = Seq(ok.copy(id = null), ok.copy(north = Double.NaN),
      ok.copy(east = Double.PositiveInfinity), ok.copy(south = Double.NegativeInfinity))
    bad.foreach { r =>
      val e = intercept[IllegalArgumentException](Geo.regionIdFor(Seq(r), col("lon"), col("lat")))
      assert(e.getMessage.contains("region catalog"), e.getMessage)
    }
    // the same check guards a catalog handed to graft_region directly
    val e = intercept[Exception](spark.sql(
      "SELECT graft_region(array(named_struct('id', 'A', 'lo', 0d, 'hi', double('NaN'), " +
        "'south', 0d, 'north', 1d)), id, id) FROM range(3)").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("non-finite hi bound")), e.toString)
  }

  test("graft_region from SQL: lowest id wins, NONE on a miss or a null or NaN coordinate") {
    val got = spark.sql(
      """SELECT graft_region(array(
        |    named_struct('id', 'b', 'lo', 0d, 'hi', 10d, 'south', 0d, 'north', 10d),
        |    named_struct('id', 'a', 'lo', 5d, 'hi', 5d, 'south', 0d, 'north', 10d)), x, y) AS r
        |FROM VALUES (5, 5), (4, 5), (11, 5), (NULL, 5), (double('NaN'), 5) AS t(x, y)""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("a", "b", "NONE", "NONE", "NONE"))
  }

  test("locations.json-format catalog loads with the east/west quirk intact") {
    val tmp = java.nio.file.Files.createTempFile("locations", ".json")
    val json =
      """[{"name":"United States","ID":"USA0","centerLat":30.84,"centerLon":-111.07,
        |"north":49.31,"east":-125.56,"south":24.68,"west":-96.57}]""".stripMargin
    java.nio.file.Files.writeString(tmp, json)
    val cat = Geo.loadCatalog(spark, tmp.toString).collect()
    assert(cat.length == 1)
    val r = cat.head
    assert(r.getAs[String]("id") == "USA0")
    // east holds the SMALLER longitude — preserved, not "fixed"
    assert(r.getAs[Double]("east") < r.getAs[Double]("west"))
  }

  test("loadRegions reads integer bounds; a missing bound fails before any query") {
    val tmp = java.nio.file.Files.createTempFile("locations", ".json")
    java.nio.file.Files.writeString(tmp,
      """[{"name":"a","ID":"A","centerLat":1,"centerLon":1,"north":2,"east":0,"south":0,"west":2}]""")
    val regions = Geo.loadRegions(spark, tmp.toString)
    assert(regions.map(r => (r.id, r.north, r.east)) == Seq(("A", 2.0, 0.0)))
    java.nio.file.Files.writeString(tmp,
      """[{"name":"a","ID":"A","centerLat":1,"centerLon":1,"north":2,"east":0,"south":0,"west":2},
        |{"name":"b","ID":"B","centerLat":1,"centerLon":1,"north":null,"east":0,"south":0,"west":2}]"""
        .stripMargin)
    val e = intercept[IllegalArgumentException](
      Geo.regionIdFor(Geo.loadRegions(spark, tmp.toString), col("lon"), col("lat")))
    assert(e.getMessage.contains("'B' has a non-finite north bound"), e.getMessage)
  }
}
