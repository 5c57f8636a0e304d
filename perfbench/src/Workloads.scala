package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{Jsons, SparkEntry}
import graft.operators.Geo
import graft.sources.{Published, Snap}
import graft.streaming.Ingest
import Main.{Opts, Round, Workload, median, ms}

/** The paper's pipeline as `RegionSpoutApp` composes it: a seeded
  * 25-region catalog loaded from `locations.json`, then
  * `Ingest.eventsFileStream` (one file per trigger, its default) →
  * `Geo.regionIdFor` → envelope → `Ingest.routedParquetSink`, drained with
  * `AvailableNow` over event files staged before the clock starts. A round
  * drains every staged file into a fresh sink and checkpoint; an operation
  * is one micro-batch. The warm-up round drains the first three batches'
  * files only. */
final class GeoIngest(spark: SparkSession, o: Opts, trace: Option[Trace],
                      shape: GeoIngest.Shape = GeoIngest.Bench) extends Workload {
  import GeoIngest._
  private val eventsDir = s"${o.work}/events"
  private val warmDir = s"${o.work}/events-warm"
  private val warmBatches = math.min(3, shape.batches)
  private val base = Gen.eventIdBase(o.seed)
  private var catalog: Seq[Geo.Region] = Nil
  private var expected: Map[String, Long] = Map.empty
  /** Timed rounds whose sink drained completely, with the events the
    * engine reports its micro-batches read. */
  private val rounds = mutable.LinkedHashMap.empty[Int, Long]

  def opsPerRound: Int = shape.batches

  def setup(): Unit = {
    val loc = s"${o.work}/locations.json"
    Files.writeString(Paths.get(loc), Gen.locationsJson(Gen.catalog(o.seed, Regions)))
    // as RegionSpoutApp loads it
    catalog = Geo.loadCatalog(spark, loc).collect().map { r =>
      Geo.Region(r.getAs[String]("name"), r.getAs[String]("id"),
        r.getAs[Double]("centerLat"), r.getAs[Double]("centerLon"),
        r.getAs[Double]("north"), r.getAs[Double]("east"),
        r.getAs[Double]("south"), r.getAs[Double]("west"))
    }.toSeq
    val files = Gen.writeFiles(Gen.events(spark, o.seed, base, 0, shape.events, shape.files),
      s"${o.work}/events-staging", eventsDir, "events")
    Files.createDirectories(Paths.get(warmDir))
    files.take(warmBatches * shape.filesPerBatch).foreach { f =>
      val link = Files.createLink(Paths.get(warmDir, f.getFileName.toString), f)
      link.toFile.setLastModified(f.toFile.lastModified)
    }
    expected = Checks.regionCounts(Iterator.range(0, shape.events).map(_ + base), catalog)
  }

  private def envelope(dir: String): DataFrame = {
    val assigned = Geo.withPoint(Ingest.eventsFileStream(spark, dir, shape.filesPerBatch))
      .withColumn("region", Geo.regionIdFor(catalog, col("lon"), col("lat")))
    assigned.filter(col("region") =!= "NONE")
      .select(col("event_id").cast("string").as("id"), col("props").as("text"),
        col("region"), concat(lit("raw-tweets-"), col("region")).as("topic"))
  }

  def round(i: Int): Round = {
    val out = s"${o.work}/sink/round=$i"
    trace.foreach(_.begin())
    val (dir, want) = if (i < 0) (warmDir, warmBatches) else (eventsDir, shape.batches)
    val q = Ingest.routedParquetSink(envelope(dir), out, s"${o.work}/ckpt/r$i",
      Trigger.AvailableNow())
    q.awaitTermination()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    require(batches.length == want, s"round $i ran ${batches.length} data batches, expected $want")
    if (i >= 0) rounds(i) = batches.map(_.numInputRows).sum
    val layers = trace.map(_.end()).map { byBatch =>
      batches.toSeq.map { p =>
        val a = byBatch.getOrElse(p.batchId, new Trace.Acc)
        val pr = a.progress.getOrElse(sys.error(s"no progress event for batch ${p.batchId}"))
        val (files, bytes) = sinkLog(out, p.batchId)
        // the file sink reports no output row count; count the batch's files
        val rowsOut = spark.read.parquet(files: _*).count()
        a.layers(pr.triggerMs.toDouble) ++ Map(
          "ingest.latest_offset_ms" -> pr.latestOffsetMs.toDouble,
          "ingest.query_planning_ms" -> pr.planningMs.toDouble,
          "ingest.add_batch_ms" -> pr.addBatchMs.toDouble,
          "ingest.wal_commit_ms" -> pr.walCommitMs.toDouble,
          "ingest.commit_offsets_ms" -> pr.commitOffsetsMs.toDouble,
          "ingest.rows_out" -> rowsOut.toDouble,
          "ingest.files_written" -> files.size.toDouble,
          "ingest.bytes_written" -> bytes.toDouble)
      }
    }.getOrElse(Nil)
    Round(batches.toSeq.map(_.durationMs.get("triggerExecution").doubleValue), shape.events, layers)
  }

  /** Files and bytes a batch committed, from the file sink's own log. */
  private def sinkLog(out: String, batch: Long): (Seq[String], Long) = {
    val entries = Files.readAllLines(Paths.get(out, "_spark_metadata", batch.toString))
      .toArray.map(_.toString).filter(_.startsWith("{")).toSeq
    (entries.map(e => PathRe.findFirstMatchIn(e).get.group(1)),
      entries.map(e => SizeRe.findFirstMatchIn(e).get.group(1).toLong).sum)
  }

  /** Every timed round's sink, read back at once: `round=`/`region=` are
    * the directories, so each row knows both. */
  def check(): Seq[String] = {
    val df = spark.read.parquet(s"${o.work}/sink")
      .filter(col("round").isin(rounds.keys.toSeq: _*))
      .withColumn("bad_topic", col("topic") =!= concat(lit("raw-tweets-"), col("region")))
    val counts = df.groupBy("round", "region").count().collect()
      .groupBy(_.getInt(0)).map { case (r, rows) => r -> rows.map(x => x.getString(1) -> x.getLong(2)).toMap }
    val perRound = df.groupBy("round")
      .agg(countDistinct(col("id")), count(when(col("bad_topic"), 1))).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    rounds.toSeq.flatMap { case (r, read) =>
      val (distinct, bad) = perRound.getOrElse(r, (0L, 0L))
      Checks.geoSink(expected, shape.events, read, counts.getOrElse(r, Map.empty), distinct, bad)
        .map(e => s"round $r: $e")
    }
  }

  override def runLayers(): Map[String, Double] = {
    // region assignment alone over one batch's files, to the noop sink
    val oneBatch = spark.read.parquet((0 until shape.filesPerBatch).map(f => f"$eventsDir/events-$f%04d.parquet"): _*)
    val runs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      Geo.withPoint(oneBatch).withColumn("region", Geo.regionIdFor(catalog, col("lon"), col("lat")))
        .write.format("noop").mode("overwrite").save()
      ms(t0)
    }
    Map("geo.assign_ms" -> median(runs), "geo.regions" -> catalog.size.toDouble)
  }
}

object GeoIngest {
  /** The reference's cap on regions (regionSpout.go:77). */
  val Regions = 25
  /** A round drains `batches` micro-batches of `filesPerBatch` files. */
  final case class Shape(filesPerBatch: Int, batches: Int, eventsPerFile: Long) {
    def files: Int = filesPerBatch * batches
    def events: Long = eventsPerFile * files
  }
  /** One file per trigger, as `RegionSpoutApp` reads its directory
    * (`maxFilesPerTrigger` 1), of 100k events, the file size of the probe
    * that measured the pipeline. Five batches a round is chosen for the
    * run's time budget: one round fills a run, and only its first batch
    * pays the new query's start, so the median operation is a
    * steady-state trigger. */
  val Bench = Shape(filesPerBatch = 1, batches = 5, eventsPerFile = 100000L)
  private val SizeRe = "\"size\":(\\d+)".r
  private val PathRe = "\"path\":\"([^\"]+)\"".r
}

/** Durable-table commits: a snap table built from seeded customer rows,
  * with the layout of the engine's customer lifecycle (`SnapOps.ensureCust`:
  * 8 range buckets on `c_custkey`), receives a series of `Snap.merge`
  * commits of seeded upserts and deletes: pairs of a delta in the shape
  * of its `SnapOps.delta1` and the delta that undoes it
  * ([[Gen.DeltaSeries]]). Each commit is followed by a `Snap.read` of the
  * head. An operation is one merge commit with its head read; a round is
  * two pairs. */
final class SnapUpsert(spark: SparkSession, o: Opts, trace: Option[Trace],
                       customers: Int = SnapUpsert.Customers) extends Workload {
  import SnapUpsert._
  import spark.implicits._
  private val loc = new HPath(s"${o.work}/warehouse/perfbench_cust")
  private val table = Gen.customers(o.seed, customers)
  private val series = new Gen.DeltaSeries(o.seed, table)
  private val errors = mutable.ArrayBuffer.empty[String]
  /** A version kept for the time-travel check, with its expected content. */
  private var pinned: (Int, Map[Long, Gen.Cust]) = (0, Map.empty)
  private var lastVersion = 0

  /** Two pairs: at 1.7–2.2 s a pair, a 6 s run then always fits two
    * rounds, where one-pair rounds split runs between three and four. */
  def opsPerRound: Int = 4

  def setup(): Unit = {
    val rows = table.toSeq.map { case (k, c) =>
      Gen.DeltaRow(k, c.name, c.nation, c.cents / 100.0, c.segment, false)
    }
    Snap.create(spark, loc, rows.toDF().drop("_deleted"), Seq("c_custkey"), "c_custkey",
      Buckets, layout = "range", tag = s"perfbench-${o.seed}")
    lastVersion = 1
  }

  private def headSums(): (Long, Long) = {
    val r = Snap.read(spark, loc)
      .agg(count(lit(1)), sum(functions.round(col("c_acctbal") * 100).cast("long"))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def round(i: Int): Round = {
    val ops = (0 until opsPerRound).map(k => commit(pin = i == -1 && k == 0))
    Round(ops.map(_._1), ops.map(_._2).sum, ops.flatMap(_._3))
  }

  /** One merge commit and its head read: (operation ms, delta rows,
    * traced layers). `pin` keeps the committed version for the
    * time-travel check. */
  private def commit(pin: Boolean): (Double, Long, Option[Map[String, Double]]) = {
    val delta = series.next()
    val df = delta.toDF()
    val before = if (trace.isDefined) Snap.head(spark, loc) else None
    trace.foreach(_.begin())
    val t0 = System.nanoTime()
    val v = Snap.merge(spark, loc, df)
    val mergeMs = ms(t0)
    val mergeWork = trace.map(_.end())
    trace.foreach(_.begin())
    val t1 = System.nanoTime()
    val (n, cents) = headSums()
    val opMs = ms(t0)
    val readMs = ms(t1)
    val readWork = trace.map(_.end())
    require(v == lastVersion + 1, s"merge committed v$v after v$lastVersion")
    lastVersion = v
    series.apply(delta)
    errors ++= Checks.snapTable(s"head v$v", table, n, cents, None)
    if (pin) pinned = (v, table.toMap)
    val layers = for (m <- mergeWork; r <- readWork; b <- before) yield {
      val t2 = System.nanoTime()
      val h = Snap.head(spark, loc).get
      val headMs = ms(t2)
      val was = (b.files ++ b.deltas ++ b.dvs).map(_.path).toSet
      val now = (h.files ++ h.deltas ++ h.dvs).map(_.path).toSet
      val fs = Published.fsOf(loc)
      val added = now diff was
      val work = Trace.merged(m.values ++ r.values)
      work.layers(opMs) ++ Map(
        "snap.merge_ms" -> mergeMs,
        "snap.head_ms" -> headMs,
        "snap.read_ms" -> readMs,
        "snap.jobs_per_commit" -> Trace.merged(m.values).jobs.toDouble,
        "snap.files_added" -> added.size.toDouble,
        "snap.files_removed" -> (was diff now).size.toDouble,
        "snap.bytes_written" -> added.toSeq.map(p => fs.getFileStatus(new HPath(loc, p)).getLen).sum.toDouble,
        "snap.head_files" -> now.size.toDouble)
    }
    (opMs, delta.size.toLong, layers)
  }

  def check(): Seq[String] = {
    def keysAndSums(asOf: Option[Int]) = {
      val rows = Snap.read(spark, loc, asOf)
        .select(col("c_custkey"), functions.round(col("c_acctbal") * 100).cast("long")).collect()
      (rows.length.toLong, rows.map(_.getLong(1)).sum, Some(rows.map(_.getLong(0)).toSet))
    }
    val (n, c, k) = keysAndSums(None)
    val (pv, pt) = pinned
    val (tn, tc, tk) = keysAndSums(Some(pv))
    val changes = Snap.changes(spark, loc, 1, lastVersion).count()
    errors.toSeq ++
      Checks.snapTable(s"head v$lastVersion", table, n, c, k) ++
      Checks.snapTable(s"time travel v$pv", pt, tn, tc, tk) ++
      (if (changes != series.keyChanges)
        Seq(s"changelog v1..v$lastVersion has $changes rows, the deltas changed ${series.keyChanges} keys")
      else Nil)
  }
}

object SnapUpsert {
  val Customers = 15000 // the customer table at sf 0.1
  val Buckets = 8 // SnapOps.custBuckets
}

/** A fixed list of `SparkEntry.queries` entries over seeded sf 0.1
  * tables, each written to the noop sink. An operation is one pass over
  * the list. */
final class OperatorMix(spark: SparkSession, o: Opts, trace: Option[Trace],
                        queries: Seq[String] = OperatorMix.queries,
                        sf: Double = OperatorMix.ScaleFactor) extends Workload {
  private val data = s"${o.work}/data"
  private val verify = s"${o.work}/verify"

  def opsPerRound: Int = 1

  /** Input rows of one pass, counted from the generator's table sizes. */
  private val inputRows = queries.flatMap(OperatorMix.reads).map(Gen.tableRows(_, sf)).sum

  def setup(): Unit = Gen.tables(spark, o.seed, sf, data, queries.flatMap(OperatorMix.reads).toSet)

  /** The warm-up pass writes every query's output, with its DuckDB oracle
    * SQL, for `perfbench/oracle.py`; timed passes write to the noop sink. */
  def round(i: Int): Round = {
    val perQuery = queries.map { q =>
      trace.foreach(_.begin())
      val t0 = System.nanoTime()
      // some builders run jobs themselves (loops, snap lifecycles): time them too
      val df = SparkEntry.queries(q)(spark, data)
      if (i < 0) df.coalesce(1).write.mode("overwrite").parquet(s"$verify/$q")
      else df.write.format("noop").mode("overwrite").save()
      (q, ms(t0), trace.map(_.end()))
    }
    if (i < 0) {
      System.err.println(perQuery.map(q => f"${q._1} ${q._2}%.0f ms").mkString("[perfbench] warm-up: ", ", ", ""))
      val json = queries.map(q => s"${Jsons.str(q)}: ${Jsons.str(SparkEntry.oracleSql(q))}")
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$verify/oracle_sql.json"), json)
    }
    val passMs = perQuery.map(_._2).sum
    val layers = trace.map { _ =>
      System.err.println(perQuery.map { case (q, _, w) =>
        val a = Trace.merged(w.toSeq.flatMap(_.values))
        s"$q ${a.jobs} jobs ${a.shuffleWrite} B"
      }.mkString(s"[perfbench] pass $i shuffle writes: ", ", ", ""))
      val work = Trace.merged(perQuery.flatMap(_._3.toSeq.flatMap(_.values)))
      val cust = graft.sources.SnapOps.ensureCust(spark, data)
      val t0 = System.nanoTime()
      val h = Snap.head(spark, cust).get
      val head = ms(t0)
      work.layers(passMs) ++ perQuery.map { case (q, t, _) => s"mix.${q}_ms" -> t } ++ Map(
        "snap.read_ms" -> perQuery.filter(q => OperatorMix.snapReads(q._1)).map(_._2).sum,
        "snap.head_ms" -> head,
        "snap.head_files" -> (h.files.size + h.deltas.size + h.dvs.size).toDouble)
    }
    Round(Seq(passMs), inputRows, layers.toSeq)
  }

  /** The comparison itself runs in `perfbench/oracle.py` once this JVM is gone. */
  def check(): Seq[String] = Nil

  override def runLayers(): Map[String, Double] = {
    val events = graft.sources.Tables.events(spark, data)
    val runs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      Geo.withPoint(events).withColumn("region", Geo.regionIdFor(Geo.usaCatalog, col("lon"), col("lat")))
        .write.format("noop").mode("overwrite").save()
      ms(t0)
    }
    Map("geo.assign_ms" -> median(runs), "geo.regions" -> Geo.usaCatalog.size.toDouble)
  }
}

object OperatorMix {
  val ScaleFactor = 0.1
  /** Family → entries; see the benchmark README for why each is here. */
  val queries: Seq[String] = Seq(
    "q06_star_join", // relational
    "q25_exact_dedup", // text / dedup
    "q30_knn_bruteforce", // similarity
    "q91_sketch_merge", // sketches
    "q75_triangle_count", // graph
    "q33_tumbling_window", // windows
    "q19_geo_assign", "q20_envelope", // the reference-catalog geo faces
    "q131_snap_time_travel", "q136_snap_changelog") // snap reads
  val snapReads: Set[String] = queries.filter(_.contains("_snap_")).toSet
  /** The generated tables each entry reads. */
  val reads: Map[String, Seq[String]] = Map(
    "q06_star_join" -> Seq("lineitem", "supplier", "nation", "region"),
    "q25_exact_dedup" -> Seq("documents"),
    "q30_knn_bruteforce" -> Seq("embeddings"), "q91_sketch_merge" -> Seq("orders"),
    "q75_triangle_count" -> Seq("lineitem"), "q33_tumbling_window" -> Seq("events"),
    "q19_geo_assign" -> Seq("events"), "q20_envelope" -> Seq("events"),
    "q131_snap_time_travel" -> Seq("customer"), "q136_snap_changelog" -> Seq("customer"))
}
