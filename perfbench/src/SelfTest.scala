package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import graft.operators.Geo
import graft.sources.Snap

/** Tests of the benchmark's own checks: each must pass on a clean output
  * and reject a deliberately corrupted one. Runs small versions of the
  * workloads in one local session; `perfbench/tests/test_checks.py`
  * starts it and then tests the operator-mix oracle on the query outputs
  * it leaves under `<work>/mix`.
  *
  *   graft.perfbench.SelfTest <work dir>      (exit code 1 on any failure) */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => Any = ""): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  /** Three boxes with an overlap (A1 and B2; the lower id wins), an
    * inverted east/west pair (B2) and edge-exact points, worked by hand
    * from the point formula lon = (−1300 + id % 660) / 10,
    * lat = (240 + id·7919 % 260) / 10. */
  val handCatalog = Seq(
    Geo.Region("a", "A1", 30.0, -127.5, north = 36.0, east = -125.0, south = 24.0, west = -130.0),
    Geo.Region("b", "B2", 40.0, -131.5, north = 50.0, east = -128.0, south = 30.0, west = -135.0),
    Geo.Region("c", "C3", 25.0, -95.0, north = 30.0, east = -90.0, south = 20.0, west = -100.0))
  val handRegions: Map[Long, String] = Map(
    0L -> "A1", // (−130.0, 24.0): on A1's west and south edges
    1L -> "A1", // (−129.9, 35.9): in A1 and B2
    2L -> "B2", // (−129.8, 47.8): north of A1
    3L -> "A1", // (−129.7, 33.7): in A1 and B2
    100L -> "NONE", // (−120.0, 44.0)
    330L -> "C3", // (−97.0, 25.0)
    659L -> "NONE", // (−64.1, 40.1)
    660L -> "A1") // (−130.0, 26.0)

  def main(args: Array[String]): Unit = {
    val work = args(0)
    def opts(name: String) = {
      Files.createDirectories(Paths.get(work, name))
      Main.Opts(name, seed = 7, seconds = 0, trace = false, cores = 2,
        work = s"$work/$name", result = "")
    }
    val spark = Main.session(opts("session"))
    import spark.implicits._
    try {
      // -------------------------------------------------- brute-force region counter
      val want = handRegions.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      expect("brute force matches the hand-computed three-box catalog",
        Checks.regionCounts(handRegions.keysIterator, handCatalog) == want,
        Checks.regionCounts(handRegions.keysIterator, handCatalog))
      val engine = Geo.withPoint(handRegions.keys.toSeq.toDF("event_id"))
        .select(col("event_id"), Geo.regionIdFor(handCatalog, col("lon"), col("lat")))
        .as[(Long, String)].collect().toMap
      expect("Geo.regionIdFor matches the hand-computed three-box catalog",
        engine == handRegions, engine)

      // ------------------------------------------------------------ geo sink
      val g = opts("geo")
      val geo = new GeoIngest(spark, g, None, GeoIngest.Shape(2, 2, 2000))
      geo.setup()
      geo.round(0)
      expect("geo check passes on a clean sink", geo.check().isEmpty, geo.check())
      val sink = Paths.get(g.work, "sink", "round=0")
      val regionDirs = Files.list(sink).toArray.map(_.toString).filter(_.contains("region=")).sorted
      // a duplicated event: one existing row written once more into its region
      val dupDir = regionDirs.head
      val one = spark.read.parquet(dupDir).limit(1).collect()
      spark.createDataFrame(java.util.Arrays.asList(one: _*), spark.read.parquet(dupDir).schema)
        .write.mode("append").parquet(dupDir)
      val dup = geo.check()
      expect("geo check rejects a duplicated event", dup.exists(_.contains("more than once")), dup)
      Gen.deleteTree(Paths.get(dupDir))
      // a dropped region: one region's rows gone from the sink
      val dropped = geo.check()
      expect("geo check rejects a dropped region", dropped.exists(_.contains("per-region counts")), dropped)
      // an event the stream did not read: the engine's own count one short
      val sinkRows = want - "NONE"
      def conserve(read: Long) =
        Checks.geoSink(want, handRegions.size, read, sinkRows, sinkRows.values.sum, 0)
      expect("geo check rejects a stream that read one event less",
        conserve(handRegions.size - 1).exists(_.contains("conservation")) &&
          conserve(handRegions.size).isEmpty, conserve(handRegions.size - 1))

      // ----------------------------------------------------------- snap table
      val s = opts("snap")
      val snap = new SnapUpsert(spark, s, None, customers = 500)
      snap.setup()
      (-1 to 1).foreach(snap.round)
      expect("snap check passes on a clean table", snap.check().isEmpty, snap.check())
      // a wrong c_acctbal: one row's balance changed behind the replay's back
      val loc = new HPath(s"${s.work}/warehouse/perfbench_cust")
      val row = Snap.read(spark, loc).limit(1)
        .withColumn("c_acctbal", col("c_acctbal") + 0.01).withColumn("_deleted", lit(false))
      Snap.merge(spark, loc, row)
      val bad = snap.check()
      expect("snap check rejects a wrong c_acctbal", bad.exists(_.contains("sum(c_acctbal)")), bad)

      // ----------------------------------------------- operator mix outputs
      val m = opts("mix")
      // written for the oracle tests in test_checks.py (the warm-up pass writes them)
      val mix = new OperatorMix(spark, m, None, Seq("q06_star_join", "q19_geo_assign"), sf = 0.001)
      mix.setup()
      mix.round(-1)
    } finally spark.stop()
    println(if (failures == 0) "SELFTEST OK" else s"SELFTEST FAILED: $failures")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
