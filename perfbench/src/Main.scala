package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.Session

/** One benchmark run in one JVM: set up a workload's inputs, run one
  * untimed warm-up round, then closed-loop rounds for the given seconds,
  * check the outputs, and write the result as JSON to `--result`.
  *
  *   graft.perfbench.Main --workload geo_ingest --seed 1 --seconds 10
  *     --trace 0 --cores 4 --work <run dir> --result <file>
  *
  * `perfbench/run.py` builds the classes and starts this main. */
object Main {
  /** Fixed, whatever the core count: the inputs and plans do not move
    * with the machine. */
  val ShufflePartitions = 8

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: String, result: String)

  /** One round of operations. `layers` has one map per operation
    * (traced runs only). */
  final case class Round(opsMs: Seq[Double], rows: Long,
                         layers: Seq[Map[String, Double]] = Nil)

  trait Workload {
    /** Operations per round: constant, so a failed round fails a fixed share. */
    def opsPerRound: Int
    /** Stage the inputs; part of set-up. */
    def setup(): Unit
    /** Untimed rounds before the clock starts. */
    def warmUpRounds: Int = 1
    /** Run round `i` (`i < 0`: an untimed warm-up round). */
    def round(i: Int): Round
    /** After the timed section: what is wrong with the outputs. */
    def check(): Seq[String]
    /** Traced runs: per-layer figures measured once per run, not per op. */
    def runLayers(): Map[String, Double] = Map.empty
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("work"), m("result"))
  }

  def session(o: Opts): SparkSession = {
    val spark = Session.builder(s"local[${o.cores}]", ShufflePartitions)
      .config("spark.local.dir", s"${o.work}/local")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0Ms = sys.props("perfbench.t0").toLong
    val spark = session(o)
    val trace = if (o.trace) Some(new Trace(spark)) else None
    val w: Workload = o.workload match {
      case "geo_ingest" => new GeoIngest(spark, o, trace)
      case "snap_upsert" => new SnapUpsert(spark, o, trace)
      case "operator_mix" => new OperatorMix(spark, o, trace)
    }
    def log(msg: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.1f s: $msg")
    log("session up")
    w.setup()
    log("inputs staged")
    (1 to w.warmUpRounds).foreach(k => w.round(-k))
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    log("warmed up")
    heapPools.foreach(_.resetPeakUsage())

    var attempted, failed = 0L
    var rows = 0L
    val ops = Seq.newBuilder[Double]
    val layers = Seq.newBuilder[Map[String, Double]]
    var firstRound = Seq.empty[Map[String, Double]]
    val start = System.nanoTime()
    var i = 0
    while (ms(start) < o.seconds * 1000) {
      attempted += w.opsPerRound
      try {
        val r = w.round(i)
        ops ++= r.opsMs; rows += r.rows; layers ++= r.layers
        if (i == 0) firstRound = r.layers
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] round $i failed: $e")
          e.printStackTrace()
          failed += w.opsPerRound
      }
      i += 1
    }
    val wallS = ms(start) / 1000
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    log(s"timed section done: $i rounds, ops ${ops.result().map(_.round).mkString(" ")} ms")
    val errors = w.check()
    log("checked")
    errors.foreach(e => System.err.println(s"[perfbench] CHECK FAILED: $e"))
    val metrics: Map[String, Double] =
      if (!o.trace) Map(
        "setup_s" -> setupS,
        "input_rows_per_s" -> rows / wallS,
        "op_p50_ms" -> median(ops.result()))
      else {
        // times: median over every timed operation; counts: over the
        // first round's, so that they repeat exactly at one seed whatever
        // number of rounds the run had time for
        val perOp = layers.result()
        PerLayer.perOp.map { n =>
          val over = if (n.endsWith("_ms")) perOp else firstRound
          n -> median(over.map(_.getOrElse(n, 0.0)))
        }.toMap ++
          PerLayer.perRun.map(n => n -> 0.0) ++ w.runLayers() +
          ("jvm.heap_peak_mb" -> heapPeakMb)
      }
    val json = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k": ${if (v.isNaN || v.isInfinite) "null" else v.toString}"""
    }.mkString(s"""{"correct": ${errors.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {""", ", ", "}}")
    trace.foreach(_.close())
    spark.stop()
    Files.writeString(Paths.get(o.result), json)
  }
}

/** Names of the per-layer metrics a traced run reports (the `per_layer`
  * list of BENCHMARK.json). A workload that does not touch a layer
  * reports 0 for it. */
object PerLayer {
  val ingest = Seq("ingest.latest_offset_ms", "ingest.query_planning_ms", "ingest.add_batch_ms",
    "ingest.wal_commit_ms", "ingest.commit_offsets_ms", "ingest.rows_out",
    "ingest.files_written", "ingest.bytes_written")
  val snap = Seq("snap.merge_ms", "snap.head_ms", "snap.read_ms", "snap.jobs_per_commit",
    "snap.files_added", "snap.files_removed", "snap.bytes_written", "snap.head_files")
  val catalystAndSpark: Seq[String] = new Trace.Acc().layers(0).keys.toSeq.sorted
  val mix: Seq[String] = OperatorMix.queries.map(q => s"mix.${q}_ms")
  /** Recorded per operation, reported as the median over operations. */
  val perOp: Seq[String] = ingest ++ snap ++ catalystAndSpark ++ mix
  /** Measured once per run. */
  val perRun = Seq("geo.assign_ms", "geo.regions", "jvm.heap_peak_mb")
}
