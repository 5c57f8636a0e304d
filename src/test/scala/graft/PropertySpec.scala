package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Geo, Skew}

/** Property-based invariants (SURVEY §5 item 4), ScalaCheck generators
  * driving batched checks: each property collects its generated cases
  * into ONE DataFrame job — per-case Spark jobs would be unusably slow. */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = {
    val s = Session.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  import spark.implicits._

  private def scalaRegion(lon: Double, lat: Double): String =
    GeoFixtures.bruteForce(Geo.usaCatalog, lon, lat)

  test("property: engine region assignment == pure containment for arbitrary points") {
    val pts = Gen.listOfN(300, Gen.zip(
      Gen.chooseNum(-180.0, 180.0), Gen.chooseNum(-90.0, 90.0))).sample.get
    val rows = pts.toDF("lon", "lat")
      .select(col("lon"), col("lat"),
        Geo.regionIdFor(Geo.usaCatalog, col("lon"), col("lat")).as("r"))
      .collect()
    rows.foreach { row =>
      assert(row.getString(2) == scalaRegion(row.getDouble(0), row.getDouble(1)))
    }
  }

  /** A random catalog on a 0.5° lattice, so edges coincide and points
    * land on them: overlapping boxes, boxes nested in an earlier box,
    * zero-width and zero-height boxes, inverted east/west, and the odd
    * inverted south/north box (which holds nothing). Ids like R1, R10, R2
    * make string order differ from number order. */
  private val genCatalog: Gen[Seq[Geo.Region]] = {
    val coord = Gen.choose(-20, 20).map(_ / 2.0)
    val box: Gen[(Double, Double, Double, Double)] = Gen.frequency(
      6 -> Gen.zip(coord, coord, coord, coord).map { case (a, b, c, d) =>
        (math.min(a, b), math.max(a, b), math.min(c, d), math.max(c, d)) },
      1 -> Gen.zip(coord, coord, coord).map { case (a, c, d) => (a, a, math.min(c, d), math.max(c, d)) },
      1 -> Gen.zip(coord, coord, coord).map { case (a, b, c) => (math.min(a, b), math.max(a, b), c, c) },
      1 -> Gen.zip(coord, coord, coord, coord).map { case (a, b, c, d) =>
        (math.min(a, b), math.max(a, b), math.max(c, d) + 0.5, math.min(c, d)) })
    for {
      n <- Gen.choose(1, 24)
      boxes <- Gen.listOfN(n, box)
      ids <- Gen.listOfN(n, Gen.choose(0, 30))
      flips <- Gen.listOfN(n, Gen.prob(0.5))
      nests <- Gen.listOfN(n, Gen.prob(0.25))
    } yield boxes.indices.map { k =>
      // nested: shrink the previous box by a lattice step on each side
      val (lo, hi, so, no) = if (k > 0 && nests(k)) {
        val (l, h, s, t) = boxes(k - 1)
        (math.min(l + 0.5, h), math.max(h - 0.5, l), math.min(s + 0.5, t), math.max(t - 0.5, s))
      } else boxes(k)
      val (east, west) = if (flips(k)) (hi, lo) else (lo, hi)
      Geo.Region(s"box $k", s"R${ids(k)}", 0, 0, no, east, so, west)
    }
  }

  test("property: grid region lookup == ordered brute force, codegen and interpreted") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val catalogs = Gen.listOfN(30, genCatalog).sample.get
    val lattice = (-22 to 22).map(_ / 2.0)
    // cell boundaries of each catalog's own grid, and the doubles either side
    val edges = catalogs.flatMap { c =>
      val b = c.map(r => (r.id, math.min(r.east, r.west), math.max(r.east, r.west), r.south, r.north))
      val (ex, ey) = graft.expressions.RegionIndex.build(b.map(_._1).toArray, b.map(_._2).toArray,
        b.map(_._3).toArray, b.map(_._4).toArray, b.map(_._5).toArray).cellEdges
      (ex ++ ey).flatMap(v => Seq(v, math.nextDown(v), math.nextUp(v)))
    }
    val axis = lattice ++ edges ++ Seq(Double.NaN)
    val points: Seq[(java.lang.Double, java.lang.Double)] =
      Gen.listOfN(3000, Gen.zip(Gen.oneOf(axis), Gen.oneOf(axis))).sample.get
        .map { case (x, y) => (Double.box(x), Double.box(y)) } ++
        Seq[(java.lang.Double, java.lang.Double)](
          (null, 0.0), (0.0, null), (null, null), (Double.NaN, Double.NaN))
    val schema = StructType(Seq(StructField("lon", DoubleType), StructField("lat", DoubleType)))
    // an RDD-backed frame: a local relation would be folded on the driver
    // by the interpreted evaluator whatever the codegen settings
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(points.map { case (x, y) => Row(x, y) }, 4), schema)
    val assigned = df.select(col("lon") +: col("lat") +: catalogs.zipWithIndex.map { case (c, k) =>
      Geo.regionIdFor(c, col("lon"), col("lat")).as(s"r$k") }: _*)
    val expected = points.map { case (x, y) => catalogs.map(GeoFixtures.bruteForce(_, x, y)) }

    def check(mode: String, codegen: Boolean): Unit = {
      val q = assigned.select("*") // a fresh plan under the current confs
      val got = q.collect().map(r => r.toSeq.drop(2).map(_.asInstanceOf[String]))
      assert(q.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]) == codegen,
        s"$mode: unexpected plan\n${q.queryExecution.executedPlan}")
      got.zip(points).zip(expected).foreach { case ((g, p), e) =>
        assert(g == e, s"$mode at $p: got $g, want $e")
      }
    }
    check("codegen", codegen = true)
    val confs = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try check("interpreted", codegen = false)
    finally prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("property: to_json . from_json is identity on envelope structs") {
    val gen = Gen.listOfN(100, Gen.zip(
      Gen.alphaNumStr.map(_.take(12)), Gen.oneOf("USA0", "USA1"),
      Gen.alphaNumStr.map(_.take(30))))
    val rows = gen.sample.get.toDF("id", "region", "text")
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("region", StringType),
      StructField("text", StringType)))
    val roundTripped = rows
      .select(from_json(to_json(struct(col("id"), col("region"), col("text"))),
        schema).as("s"))
      .select(col("s.id"), col("s.region"), col("s.text"))
    assert(roundTripped.collect().toSeq.map(_.toSeq) ==
      rows.collect().toSeq.map(_.toSeq))
  }

  test("property: dropDuplicates is idempotent and keeps one row per key") {
    val gen = Gen.listOfN(400, Gen.zip(Gen.chooseNum(0L, 50L), Gen.chooseNum(0, 9)))
    val df = gen.sample.get.toDF("k", "v")
    val once = df.dropDuplicates("k")
    val twice = once.dropDuplicates("k")
    assert(once.count() == twice.count())
    assert(once.count() == df.select("k").distinct().count())
  }

  test("property: tumbling window counts always conserve the row total") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val gen = Gen.listOfN(500, Gen.chooseNum(0L, 600000L))
    val df = gen.sample.get.map(off => new java.sql.Timestamp(base + off))
      .toDF("ts")
    val windowed = df.groupBy(window(col("ts"), "30 seconds")).count()
    assert(windowed.agg(sum(col("count"))).head().getLong(0) == 500L)
  }

  test("property: salted join equals the plain join on skewed keys") {
    // heavily skewed: 90% of rows share one key — the USA0/USA1 shape
    val gen = Gen.listOfN(500, Gen.frequency(
      9 -> Gen.const("HOT"), 1 -> Gen.oneOf("a", "b", "c")))
    val big = gen.sample.get.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toDF("k", "id")
    val small = Seq(("HOT", 1), ("a", 2), ("b", 3), ("c", 4), ("unused", 5))
      .toDF("k2", "payload")
    val plain = big.join(small, col("k") === col("k2"))
      .select(col("id"), col("payload")).collect().map(_.toSeq).sortBy(_.toString)
    val salted = Skew.saltedJoin(big, small, "k", "k2", col("id"), salts = 8)
      .select(col("id"), col("payload")).collect().map(_.toSeq).sortBy(_.toString)
    assert(salted.toSeq == plain.toSeq)
  }

  test("q86 skyline equals the brute-force dominance recompute") {
    val sf = "/root/testdata/sf0.001"
    val per = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey").as("ok"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("price_c"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute force: keep (ok, p, q) iff no other row dominates it, where
    // dominate = (cheaper-or-equal and more qty) or (cheaper and >= qty)
    // and equal-(p,q) ties keep only the lowest ok
    val expected = per.filter { case (ok, p, q) =>
      !per.exists { case (ok2, p2, q2) =>
        (p2 <= p && q2 > q) || (p2 < p && q2 >= q) ||
          (p2 == p && q2 == q && ok2 < ok)
      }
    }.map(t => (t._2, t._3)).toSet
    val got = graft.operators.Relational.q86Skyline(spark, sf)
      .collect().map(r => (r.getAs[Long]("price_c"), r.getAs[Long]("qty"))).toSet
    assert(got == expected, s"frontier mismatch: extra=${got -- expected} missing=${expected -- got}")
  }

}
